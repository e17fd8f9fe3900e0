package graft

import graft.pipeline.{Dedup, Multimodal, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: every implemented operator from SURVEY.md §2 (plus the
  * LLM-pipeline layer) registered as a named query with a DuckDB-equivalent
  * oracle over the same testdata parquet.
  *
  * Conventions that keep the DuckDB compare exact:
  *  - identical column names (aliased on BOTH sides);
  *  - double sums routed through DECIMAL(18,2) (exact, order-independent)
  *    then cast back to double;
  *  - count-like values cast to BIGINT on both sides;
  *  - similarity scores rounded to 6 dp on both sides, with id tiebreaks in
  *    every ORDER BY.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: PK upsert + merge-on-read + aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val t = Fixtures.ordersPk(spark, "/root/testdata/sf0.001")
    t.toDF.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("sum_price"))
  }

  // One-shot aggregation of the events table — the target state of the
  // aggregation merge engine however its input is batched/compacted
  private val eventsAggSql =
    """SELECT user_id, MAX(event_id) AS event_id,
      | CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
      | MAX(value) AS max_value,
      | MIN(ts) AS min_ts,
      | ARG_MAX(event_type, event_id) AS last_type,
      | STRING_AGG(event_type, ',' ORDER BY event_id) AS types,
      | CAST(COUNT(*) AS BIGINT) AS n,
      | STRING_AGG(event_id || ':' || event_type, ',' ORDER BY event_id) AS recent_rows
      |FROM events GROUP BY user_id""".stripMargin

  // BM25 query terms shared by q90's Spark side and its DuckDB oracle
  private val bm25Terms = Seq("spark", "merge", "window")

  private val bm25Sql: String = {
    val dfs = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN LIST_CONTAINS(t, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(", ")
    val tfs = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(LEN(LIST_FILTER(t, x -> x = '$t')) AS DOUBLE) AS tf_$i"
    }.mkString(", ")
    val score = bm25Terms.indices.map(i =>
      s"LN((n - df_$i + 0.5) / (df_$i + 0.5) + 1.0) * (tf_$i * 2.2) / " +
        s"(tf_$i + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
       |    LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
       |      '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS t
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    AVG(CAST(LEN(t) AS DOUBLE)) AS avgdl, $dfs FROM toks),
       |per AS (SELECT doc_id, CAST(LEN(t) AS DOUBLE) AS dl, $tfs FROM toks)
       |SELECT doc_id, ROUND($score, 6) AS bm25 FROM per, st""".stripMargin
  }

  /** Shared CTE chain of the q145/q146 DSIR oracles, ending in
    * sc(doc_id, s): per-doc sum of Laplace-smoothed ln(p_target/p_raw)
    * over md5-hashed unigram+bigram buckets (B=4096, a=1; target = the
    * doc_id%10==0 slice). Mirrors TextOps.dsirWeights exactly: same
    * lowercased whitespace tokens, same q62 bucket hash.
    */
  private val dsirScoreCte: String = {
    def feats(src: String, alias: String) =
      s"""${alias}l AS (SELECT doc_id,
         |  LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
         |    t -> LEN(t) > 0) AS l
         |  FROM $src),
         |$alias AS (SELECT doc_id,
         |  ('0x' || SUBSTR(MD5(f), 1, 8))::BIGINT % 4096 AS b
         |  FROM (SELECT doc_id, UNNEST(LIST_CONCAT(l,
         |    LIST_TRANSFORM(RANGE(1, LEN(l)), i -> l[i] || ' ' || l[i+1]))) AS f
         |  FROM ${alias}l))""".stripMargin
    s"""${feats("documents", "rf")},
       |${feats("(SELECT * FROM documents WHERE doc_id % 10 = 0)", "tf")},
       |rc AS (SELECT b, COUNT(*) AS rc FROM rf GROUP BY 1),
       |tc AS (SELECT b, COUNT(*) AS tc FROM tf GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM rf) AS rt,
       |  (SELECT COUNT(*) FROM tf) AS tt),
       |lr AS (SELECT COALESCE(rc.b, tc.b) AS b,
       |  LN((COALESCE(tc, 0) + 1.0) / (tt + 4096.0)) -
       |  LN((COALESCE(rc, 0) + 1.0) / (rt + 4096.0)) AS lr
       |  FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, tot),
       |sc AS (SELECT rf.doc_id, SUM(lr.lr) AS s
       |  FROM rf JOIN lr ON rf.b = lr.b GROUP BY 1)""".stripMargin
  }

  // SQL fragment: the merged orders state after the two canonical upserts
  private val mergedOrders =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
      | o_orderdate, o_orderpriority FROM orders""".stripMargin

  /** 4 axis-block centroids over the 64-dim embeddings (dims
    * [16j, 16j+16) = 1.0): FIXED, so q139/q140's nearest-centroid argmax
    * is reproducible in the SQL oracle (normalized value 1/4 exactly).
    */
  private val blockCentroids: Seq[Seq[Double]] =
    (0 until 4).map(j =>
      (0 until 64).map(i => if (i / 16 == j) 1.0 else 0.0).toSeq)

  /** The DuckDB form of dot(embedding, blockCentroids(j)/|c|): the same
    * ascending left-associated fold of per-element double products that
    * [[VectorOps.dot]] codegens (zero terms add exactly, so only the
    * block's 16 terms appear).
    */
  private def blockDotSql(j: Int): String =
    (0 until 16).map(i =>
      s"CAST(embedding[${j * 16 + i + 1}] AS DOUBLE) * 0.25::DOUBLE")
      .mkString(" + ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- append tables: scan, pushdown, pruning, clustering ----
    "q01_append_scan" -> ((s, d) => Fixtures.lineitemAppend(s, d).toDF),
    "q02_agg_pushdown" -> ((s, d) =>
      Fixtures.lineitemAppend(s, d).toDF
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))),
    "q03_filter_pushdown" -> ((s, d) =>
      Fixtures.lineitemAppend(s, d).toDF
        .filter(col("l_quantity") < 10 &&
          col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")),
    "q04_partition_prune" -> ((s, d) =>
      Fixtures.lineitemAppend(s, d).toDF
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))),
    "q05_stats_range" -> ((s, d) =>
      Fixtures.lineitemZorder(s, d).toDF
        .filter(col("l_orderkey").between(100, 200))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")),
    "q06_zorder_scan" -> ((s, d) => Fixtures.lineitemZorder(s, d).toDF),
    "q73_truncate" -> ((s, d) => Fixtures.lineitemTruncated(s, d).toDF),
    "q74_schema_merge" -> ((s, d) => Fixtures.ordersSchemaMerged(s, d).toDF),
    "q75_bloom_scan" -> ((s, d) =>
      Fixtures.lineitemBloom(s, d).toDF
        .filter(col("l_orderkey").isin(42L, 4242L, 9999L))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),
    // runtime (join-driven) partition filtering: partitioned fact joined to
    // a filtered dim on the partition column
    "q76_dpp_join" -> ((s, d) => {
      val t = Fixtures.sqlLineitem(s, d)
      s.sql(
        s"""SELECT f.l_returnflag, COUNT(*) AS cnt,
           | CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM $t f
           |JOIN (SELECT flag FROM VALUES ('R'), ('N') AS d(flag) WHERE flag <> 'N') d
           |  ON f.l_returnflag = d.flag
           |GROUP BY f.l_returnflag""".stripMargin)
    }),
    "q77_rowkind_apply" -> ((s, d) => Fixtures.ordersRowkindApplied(s, d).toDF),
    "q57_hilbert_scan" -> ((s, d) => Fixtures.lineitemHilbert(s, d).toDF),
    "q07_overwrite_dynamic" -> ((s, d) => Fixtures.lineitemOverwrite(s, d).toDF),

    // ---- primary-key tables: LSM upsert + merge-on-read ----
    "q10_pk_upsert" -> ((s, d) => Fixtures.ordersPk(s, d).toDF),
    "q66_dv_pk_table" -> ((s, d) => Fixtures.ordersPkDv(s, d).toDF),
    "q67_rescaled_bucket" -> ((s, d) => Fixtures.ordersPkRescaled(s, d).toDF),
    "q11_pk_agg" -> ((s, d) =>
      Fixtures.ordersPk(s, d).toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))),
    "q12_intra_batch_dup" -> ((s, d) => Fixtures.ordersPkIntraBatch(s, d).toDF),
    "q13_time_travel" -> ((s, d) => Fixtures.ordersPk(s, d).toDF(1)),
    "q63_pk_partitioned" -> ((s, d) => Fixtures.ordersPkPartitioned(s, d).toDF),
    "q58_compacted_full" -> ((s, d) =>
      Fixtures.ordersCompactedFull(s, d)
        .toDF(Fixtures.ordersCompactedFull(s, d).latestCompactSnapshot)),
    "q14_incremental" -> ((s, d) => Fixtures.ordersPk(s, d).incremental(1, 2)),
    "q79_branch_read" -> ((s, d) => Fixtures.ordersBranched(s, d).branch("audit").toDF),
    // durable consumer progress: the registered stream's record points past
    // the chain head after an AvailableNow drain
    "q82_consumer_progress" -> ((s, d) =>
      Fixtures.ordersConsumed(s, d).system("consumers")),
    // snapshot watermarks populated from the watermark column's file stats
    "q83_watermarks" -> ((s, d) =>
      Fixtures.eventsWatermarked(s, d).system("snapshots")
        .select(col("snapshot_id"), col("watermark"))),
    // write-time computed columns: hh/ts_day absent from the input frame
    "q84_computed_columns" -> ((s, d) => Fixtures.eventsComputed(s, d).toDF),
    // append small-file compaction preserves every row through the rewrite
    "q85_append_compact" -> ((s, d) => Fixtures.lineitemCompactedSmall(s, d).toDF),
    // orphan cleanup removes the planted file (fixture require) and no live one
    "q86_orphan_cleanup" -> ((s, d) => Fixtures.ordersOrphanCleaned(s, d).toDF),
    // read.max-rows-per-batch admission: one sink commit per source snapshot
    "q87_read_limit" -> ((s, d) => {
      val sink = Fixtures.ordersReadLimited(s, d)
      sink.system("snapshots").agg(count(lit(1)).as("batches"))
        .crossJoin(sink.toDF.agg(count(lit(1)).as("rows")))
    }),
    // stream-static lookup join: per-batch broadcast enrichment, final sink
    // state equals the plain batch join
    "q88_lookup_join" -> ((s, d) => Fixtures.ordersLookupEnriched(s, d).toDF),
    // hll_sketch / theta_sketch field aggregators: sketches unioned across
    // two commits; estimates checked against the exact distinct counts
    // (hll within 5%, theta exact below its k) — the oracle pins the
    // booleans, the estimate itself is engine-specific. The estimates are
    // native Catalyst expressions (SketchEstimates) evaluated on the
    // O(keys) post-aggregation frame, never the raw corpus.
    // bucket-key narrowed to a pk subset: merged read filtered on just the
    // bucket key (prunes to one bucket; correctness of routing + merge)
    "q92_bucket_key" -> ((s, d) =>
      Fixtures.ordersBucketKeyed(s, d).toDF
        .filter(col("o_custkey").isin(37L, 38L))),
    "q91_sketch_agg" -> ((s, d) => {
      import graft.functions.SketchEstimates.{hllEstimate, thetaEstimate}
      val exact = Fixtures.src(s, d, "events").groupBy("user_id")
        .agg(countDistinct(col("event_id")).as("exact"))
      Fixtures.eventsSketched(s, d).toDF.join(exact, "user_id")
        .select(col("user_id"),
          (abs(hllEstimate(col("uniq_hll")) - col("exact")) <= col("exact") * 0.05)
            .as("hll_ok"),
          (thetaEstimate(col("uniq_theta")) === col("exact").cast("double"))
            .as("theta_exact"))
    }),
    "q15_delete" -> ((s, d) => Fixtures.ordersPkDeleted(s, d).toDF),
    // AvailableNow changelog replay through source AND sink; final sink
    // state is oracle-checked against the independently merged source
    "q71_stream_availablenow" -> ((s, d) =>
      Fixtures.ordersStreamRoundTrip(s, d).toDF
        .drop("_row_kind", "_sequence_number")),
    // DSv2 streaming from a mid-chain timestamp: the sink holds exactly the
    // two deltas committed after the captured timestamp (disjoint key sets)
    "q110_stream_from_timestamp" -> ((s, d) =>
      Fixtures.ordersStreamFromTimestamp(s, d).toDF),
    // DSv2 streaming compacted-full: compacted state + post-compaction delta
    "q111_stream_compacted_full" -> ((s, d) =>
      Fixtures.ordersStreamCompactedFull(s, d).toDF),
    "q16_update" -> ((s, d) => Fixtures.ordersPkUpdated(s, d).toDF),
    "q17_merge_into" -> ((s, d) => Fixtures.ordersPkMerged(s, d).toDF),
    "q126_delta_protocol_dml" -> ((s, d) => {
      // UPDATE + MERGE + subquery DELETE through Spark's row-level
      // protocol (SupportsRowLevelOperations/SupportsDelta, which every PK
      // table supports; the rowlevel.v2 property is inert): the analyzer
      // plans WriteDelta, executors stage op-tagged rows, the driver
      // commits one LSM upsert.
      s.conf.set("spark.sql.catalog.graft_dml",
        classOf[graft.spark.v2.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dml.warehouse",
        java.nio.file.Files.createTempDirectory("graft-dml-wh").toString)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dml.db")
      Fixtures.src(s, d, "orders").createOrReplaceTempView("q126_orders_src")
      s.sql("""CREATE TABLE graft_dml.db.orders_v2 (
        | o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
        | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
        |USING graft TBLPROPERTIES (
        | 'primary-key' = 'o_orderkey', 'bucket' = '4',
        | 'rowlevel.v2' = 'true')""".stripMargin)
      s.sql("INSERT INTO graft_dml.db.orders_v2 SELECT * FROM q126_orders_src")
      s.sql("""UPDATE graft_dml.db.orders_v2
        |SET o_totalprice = o_totalprice + 10.0
        |WHERE o_orderstatus = 'O'""".stripMargin)
      s.sql("""MERGE INTO graft_dml.db.orders_v2 t
        |USING (SELECT o_orderkey FROM q126_orders_src WHERE o_orderkey % 5 = 0) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = 0.0""".stripMargin)
      s.sql("""DELETE FROM graft_dml.db.orders_v2 WHERE o_orderkey IN
        |(SELECT o_orderkey FROM graft_dml.db.orders_v2
        | WHERE o_orderkey % 7 = 0 AND o_totalprice > 0)""".stripMargin)
      s.sql("SELECT * FROM graft_dml.db.orders_v2")
    }),
    "q18_first_row" -> ((s, d) => Fixtures.ordersFirstRow(s, d).toDF),
    "q19_partial_update" -> ((s, d) => Fixtures.ordersPartialUpdate(s, d).toDF),
    "q20_agg_engine" -> ((s, d) =>
      // nested_update array projected to a canonical string so the DuckDB
      // compare stays exact across nested-type encodings
      Fixtures.eventsAgg(s, d).toDF.select(
        col("user_id"), col("event_id"), col("total_cents"), col("max_value"),
        col("min_ts"), col("last_type"), col("types"), col("n"),
        array_join(transform(col("recent"),
          x => concat(x("eid").cast("string"), lit(":"), x("etype"))), ",")
          .as("recent_rows"))),
    "q21_compact_invariance" -> ((s, d) => Fixtures.ordersPkCompacted(s, d).toDF),
    "q22_rollback" -> ((s, d) => Fixtures.ordersPkRolledBack(s, d).toDF),
    "q23_expire_snapshots" -> ((s, d) => Fixtures.ordersPkExpired(s, d).toDF),
    "q24_read_optimized" -> ((s, d) => Fixtures.ordersPkCompacted(s, d).readOptimized),
    "q25_audit_log" -> ((s, d) => Fixtures.ordersPk(s, d).auditLog),
    "q26_schema_evolution" -> ((s, d) => Fixtures.nationEvolved(s, d).toDF),
    // __row_index metadata column over a single sorted file: position = rank
    "q81_metadata_row_index" -> ((s, d) =>
      s.sql(s"""SELECT n_nationkey, n_name, __row_index
               |FROM ${Fixtures.sqlNationRowIndexed(s, d)}""".stripMargin)),
    "q27_point_lookup" -> ((s, d) =>
      Fixtures.ordersPk(s, d).toDF.filter(col("o_orderkey") === 42)),
    "q28_sys_snapshots" -> ((s, d) =>
      Fixtures.ordersPkCompacted(s, d).system("snapshots")
        .select("snapshot_id", "commit_kind")),
    "q29_sys_partitions" -> ((s, d) =>
      Fixtures.lineitemAppend(s, d).system("partitions")
        .select(col("partition"), col("record_count"))),
    // $manifests is a DISTRIBUTED fold (no driver readManifest loop); the
    // oracle-checkable invariant: the ADD/DELETE row totals over the latest
    // snapshot's manifest list net out to the table's live row count
    "q72_sys_manifests" -> ((s, d) => {
      def liveRows(t: graft.table.GraftTable, name: String) =
        t.system("manifests")
          .agg((sum(col("added_rows")) - sum(col("deleted_rows"))).as("live_rows"))
          .select(lit(name).as("tbl"), col("live_rows"))
      liveRows(Fixtures.lineitemAppend(s, d), "lineitem")
        .unionByName(liveRows(Fixtures.ordersPkCompacted(s, d), "orders_pk"))
    }),

    // metadata-only aggregate pushdown: COUNT/MIN/MAX + partition group-by
    // answered from manifest stats (LocalTableScan — zero data files read)
    "q64_meta_agg" -> ((s, d) => {
      val t = Fixtures.sqlLineitem(s, d)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS cnt, COUNT(l_orderkey) AS cnt_ok,
           | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           | MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
           |FROM $t WHERE l_returnflag IN ('R', 'A')
           |GROUP BY l_returnflag""".stripMargin)
    }),

    // storage-partitioned join: two same-bucket-spec pk tables, equijoin
    // planned with zero exchanges. Executed eagerly (localCheckpoint) while
    // the v2-bucketing conf is on, so the returned frame is the SPJ result
    // and the conf never leaks into later queries.
    "q65_bucketed_join" -> ((s, d) => {
      val (t1, t2) = Fixtures.sqlSpjOrders(s, d)
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val saved = s.conf.getOption(key)
      s.conf.set(key, "true")
      try s.sql(
          s"""SELECT a.o_orderkey, a.o_totalprice, b.o_orderpriority
             |FROM $t1 a JOIN $t2 b ON a.o_orderkey = b.o_orderkey""".stripMargin)
        .localCheckpoint(true)
      finally saved match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),

    // ---- SQL through the DSv2 catalog (bucket-local merge-on-read) ----
    "q30_sql_select" -> ((s, d) => {
      val t = Fixtures.sqlOrders(s, d)
      s.sql(s"SELECT * FROM $t")
    }),
    "q31_sql_agg" -> ((s, d) => {
      val t = Fixtures.sqlOrders(s, d)
      s.sql(
        s"""SELECT o_orderstatus, COUNT(*) AS cnt,
           | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM $t GROUP BY o_orderstatus""".stripMargin)
    }),
    "q32_sql_point_lookup" -> ((s, d) => {
      val t = Fixtures.sqlOrders(s, d)
      s.sql(s"SELECT * FROM $t WHERE o_orderkey = 42")
    }),
    "q33_sql_time_travel" -> ((s, d) => {
      val t = Fixtures.sqlOrders(s, d)
      s.sql(s"SELECT * FROM $t VERSION AS OF 1")
    }),
    "q52_sql_update_merge" -> ((s, d) => {
      val t = Fixtures.sqlOrdersDml(s, d)
      s.sql(s"SELECT * FROM $t")
    }),

    // ---- deletion vectors / formats / defaults / changelog ----
    "q34_dv_delete" -> ((s, d) => Fixtures.lineitemDv(s, d).toDF),
    "q35_orc_scan" -> ((s, d) => Fixtures.lineitemOrc(s, d).toDF),
    "q102_avro_scan" -> ((s, d) => Fixtures.lineitemAvro(s, d).toDF),
    // avro data files under the PK merge-on-read path
    "q103_avro_pk_upsert" -> ((s, d) => Fixtures.ordersPkAvro(s, d).toDF),
    // bucketed APPEND table: hash(bucket-key) routing with a bucket-pruned
    // key filter riding through the scan
    // per-level file formats: avro L0 merged over a parquet base
    "q106_per_level_format" -> ((s, d) => Fixtures.ordersPerLevelFormat(s, d).toDF),
    // dynamic INSERT OVERWRITE via SQL: partition R replaced, others kept
    "q107_sql_dynamic_overwrite" -> ((s, d) => {
      val t = Fixtures.sqlDynamicOverwrite(s, d)
      s.sql(s"SELECT * FROM $t")
    }),
    "q104_append_bucketed" -> ((s, d) =>
      Fixtures.lineitemAppendBucketed(s, d).toDF.filter(col("l_orderkey") % 5 === 0)),
    // append-fact equijoin of two same-spec bucketed append tables
    "q105_append_bucket_join" -> ((s, d) => {
      val li = Fixtures.lineitemAppendBucketed(s, d).toDF
        .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
      val o = Fixtures.ordersAppendBucketed(s, d).toDF
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderkey"), col("qty"), col("o_totalprice"), col("o_orderpriority"))
    }),
    // multimodal decode: render real PNGs whose dims/pixels are closed-form
    // functions of doc_id, decode them through the REAL ImageIO kernel, and
    // emit stats the oracle recomputes arithmetically — a hash mismatch on
    // any row means the decode didn't actually read the pixels
    "q108_multimodal_decode" -> ((s, d) => {
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(40))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id") * 7, lit(30))).cast("int").as("h"),
          pmod(col("doc_id") * 31, lit(256)).cast("int").as("gray"))
      val rendered = Multimodal.renderSolidPngs(base, "w", "h", "gray")
      // round-trip the binary media column through a graft table: the
      // decoded stats prove the bytes survive the table format intact
      val stored = Fixtures.mediaTable(s, d, rendered)
      Multimodal.decodeImages(stored, "content", embeddingDim = 4)
        .select(
          col("doc_id"),
          col("image_info.width").cast("long").as("width"),
          col("image_info.height").cast("long").as("height"),
          col("image_info.channels").cast("long").as("channels"),
          col("image_info.pixel_sum").as("pixel_sum"),
          col("image_info.decoder").as("decoder"))
    }),
    // nested-field schema evolution: old files' struct children remapped
    // by child field id (rename follows, add null-fills, retype casts)
    "q109_nested_evolution" -> ((s, d) =>
      Fixtures.ordersNestedEvolution(s, d).toDF.select(
        col("o_orderkey"),
        col("info.price").as("price"),
        col("info.status").as("status"),
        col("info.prio").as("prio"))),
    // audio decode: render real square-wave WAVs whose peak/RMS are
    // closed-form functions of doc_id, decode through the REAL JavaSound
    // kernel — exact 16-bit PCM stats the oracle recomputes arithmetically
    "q112_audio_decode" -> ((s, d) => {
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          (lit(800) + pmod(col("doc_id"), lit(10)) * 80).cast("int").as("frames_in"),
          (lit(1000) + pmod(col("doc_id") * 13, lit(50)) * 100).cast("int").as("amp"))
      Multimodal.decodeAudios(
        Multimodal.renderSquareWavs(base, "frames_in", "amp"), "content")
        .select(
          col("doc_id"),
          col("audio_info.sample_rate").cast("long").as("sample_rate"),
          col("audio_info.channels").cast("long").as("channels"),
          col("audio_info.frames").as("frames"),
          col("audio_info.peak").cast("long").as("peak"),
          col("audio_info.rms").as("rms"),
          col("audio_info.decoder").as("decoder"))
    }),
    // MJPEG video frame extraction: synthesize per-doc 4-frame videos whose
    // frame dimensions are closed-form, split REAL JPEG frames by marker
    // scan, and verify each frame's dims via the header probe
    "q113_mjpeg_frames" -> ((s, d) => {
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 60)
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(3)), k => struct(
            (lit(16) + k * 2).cast("int").as("w"),
            lit(9).as("h"), lit(128).as("gray"))).as("frames"))
      val vids = Multimodal.renderMjpegs(base, "frames")
      val fr = Multimodal.sampleMjpegFrames(vids.drop("frames"), "content")
      Multimodal.probeImages(
        fr.withColumnRenamed("frame_bytes", "fb"), "fb")
        .select(
          col("doc_id"),
          col("frame_index").cast("long").as("frame_index"),
          col("image_dims.width").cast("long").as("width"),
          col("image_dims.height").cast("long").as("height"))
    }),
    // remote KV lookup service (J4): ordersPk served over HTTP, a batched
    // probe set resolved through ONE bucket-pruned job + key cache; the
    // returned row JSON re-frames under the table schema and must
    // hash-match the oracle's merged rows for the same keys
    "q115_remote_lookup" -> ((s, d) => {
      val t = Fixtures.ordersPk(s, d)
      val srv = new graft.service.LookupServer(t).start()
      try {
        val keys = Fixtures.src(s, d, "orders").select("o_orderkey")
          .filter(col("o_orderkey") % 500 === 0)
          .collect().map(_.getLong(0)).toSeq // O(probe set), ~120 keys
        val found = graft.service.LookupClient.lookupBatch(srv.endpoint,
          keys.map(k => Map("o_orderkey" -> k)))
        import s.implicits._
        s.read.schema(t.toDF.schema).json(s.createDataset(found))
      } finally srv.stop()
    }),
    // schema-evolving JSON CDC ingest (S14 in Spark form): inserts, then a
    // CDC batch with updates/deletes and a NEW column appearing mid-stream,
    // with the last epoch replayed (exactly-once) — final state oracled
    "q114_cdc_ingest" -> ((s, d) => Fixtures.ordersCdcIngested(s, d).toDF),
    "q36_default_values" -> ((s, d) => Fixtures.ordersDefaults(s, d).toDF),
    "q37_compaction_changelog" -> ((s, d) =>
      Fixtures.ordersChangelog(s, d).incremental(3, 4)),
    "q38_cross_partition" -> ((s, d) => Fixtures.ordersCrossPartition(s, d).toDF),
    // cross-partition lookup changelog: the -U pre-images come from the OLD
    // partitions, found through the persisted global pk index
    "q100_cross_partition_lookup_changelog" -> ((s, d) =>
      Fixtures.ordersCrossPartitionLookup(s, d).incremental(1, 2)),
    // cross-partition point lookup: the global pk index prunes the scan to
    // the key's own (partition, bucket) groups — key 42 moved to 'X', so
    // both its old and new partition groups merge, nothing else
    "q101_cross_partition_point_lookup" -> ((s, d) =>
      Fixtures.ordersCrossPartition(s, d).toDF.filter(col("o_orderkey") === 42)),
    "q39_merge_sections" -> ((s, d) => Fixtures.ordersPkSections(s, d).toDF),
    "q51_partial_compact" -> ((s, d) => Fixtures.ordersPkPartialCompact(s, d).toDF),
    "q53_dynamic_bucket" -> ((s, d) => Fixtures.ordersPkDynamicBucket(s, d).toDF),
    // point lookup on a dynamic-bucket table: pruned to the key's bucket
    // through the durable hash index (not a modulus)
    "q78_dynamic_point_lookup" -> ((s, d) =>
      Fixtures.ordersPkDynamicBucket(s, d).toDF.filter(col("o_orderkey") === 42)),
    "q55_lookup_changelog" -> ((s, d) =>
      Fixtures.ordersLookupChangelog(s, d).incremental(1, 2)),
    // ignore-delete: -D records vanish at write time, +U still applies
    "q93_ignore_delete" -> ((s, d) => Fixtures.ordersIgnoreDelete(s, d).toDF),
    "q95_record_expire" -> ((s, d) => Fixtures.ordersRecordExpire(s, d).toDF),
    // decoupled changelog: full replay served though snapshot 1 is expired
    "q96_changelog_decoupled" -> ((s, d) =>
      Fixtures.ordersChangelogDecoupled(s, d).incremental(0, 2)),
    // row-deduplicate default: identical re-upserts emit their -U/+U pair
    "q94_noop_changelog" -> ((s, d) =>
      Fixtures.ordersNoopChangelog(s, d).incremental(1, 2)),
    "q54_agg_partial_compact" -> ((s, d) =>
      Fixtures.eventsAggPartialCompact(s, d).toDF.select(
        col("user_id"), col("event_id"), col("total_cents"), col("max_value"),
        col("min_ts"), col("last_type"), col("types"), col("n"),
        array_join(transform(col("recent"),
          x => concat(x("eid").cast("string"), lit(":"), x("etype"))), ",")
          .as("recent_rows"))),

    // ---- LLM-pipeline: text analysis ----
    // line-level boilerplate dedup: synthetic "pages" of 3 docs wrapped in
    // a shared header/footer; lines in >= 2 pages are cut, doc lines stay
    "q89_line_dedup" -> ((s, d) => {
      val docs = Fixtures.src(s, d, "documents")
      val pages = docs.groupBy(expr("doc_id div 3").as("page_id"))
        .agg(concat_ws("\n",
          lit("=== SITE HEADER ==="),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x("text")), "\n"),
          lit("(c) example.com - all rights reserved")).as("text"))
      TextOps.dedupLines(pages, "page_id", "text", minDocs = 2)
    }),
    // BM25 relevance of every doc against a fixed bag-of-words query
    "q90_bm25" -> ((s, d) =>
      TextOps.bm25Scores(Fixtures.src(s, d, "documents"), "doc_id", "text",
        bm25Terms)),
    "q70_token_freq" -> ((s, d) =>
      TextOps.tokenFrequencies(Fixtures.src(s, d, "documents"), "text", minCount = 5L)),
    // benchmark decontamination: docs sharing an 8-gram with the "benchmark"
    // subset (every 50th doc) are flagged with their distinct-gram hit count
    "q80_decontaminate" -> ((s, d) => {
      val docs = Fixtures.src(s, d, "documents")
      TextOps.contaminatedDocs(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "text", n = 8)
    }),
    "q69_pii_redaction" -> ((s, d) => {
      val docs = Fixtures.src(s, d, "documents")
      val counts = TextOps.piiCounts(col("text"))
        .map { case (n, c) => c.as(s"n_$n") }
      docs.select(col("doc_id") +: TextOps.redactPii(col("text")).as("redacted") +: counts: _*)
    }),
    "q68_repeated_spans" -> ((s, d) =>
      TextOps.repeatedWindows(Fixtures.src(s, d, "documents"), "doc_id", "text", n = 8)),
    "q128_stratified_sample" -> ((s, d) =>
      // deterministic data mixing: per-language keep rates via an
      // md5-threshold on the id — reproducible across engines and
      // monotone under rate increases (raising a rate only ADDS docs)
      TextOps.stratifiedSample(Fixtures.src(s, d, "documents"),
        "doc_id", "lang", Map("en" -> 0.8, "de" -> 0.5), defaultRate = 0.1)
        .select("doc_id", "lang")),
    "q134_span_dedup" -> ((s, d) =>
      // span-level exact substring dedup (Lee et al. 2021): every
      // duplicated 8-token span is cut from all but its canonical
      // (min doc_id, start) occurrence
      TextOps.removeRepeatedSpans(Fixtures.src(s, d, "documents"),
        "doc_id", "text", n = 8)),
    "q135_seq_packing" -> ((s, d) =>
      // GPT-style packing placement: concat docs by id (1 separator
      // token), cut into 256-token sequences — distributed prefix sum,
      // never a single-partition window
      TextOps.packSequences(Fixtures.src(s, d, "documents"),
        "doc_id", "text", seqLen = 256)),
    "q136_det_shuffle" -> ((s, d) =>
      // seeded deterministic epoch shuffle: global 0-based rank under
      // md5(seed:id), reproducible across engines and cluster sizes
      TextOps.deterministicShuffle(
        Fixtures.src(s, d, "documents").select("doc_id"), "doc_id", seed = 7L)),
    "q137_token_budget_sample" -> ((s, d) =>
      // data-mixing by token BUDGET per language (budgets met, never
      // undershot; md5-order deterministic; skew-proof prefix sum)
      TextOps.tokenBudgetSample(Fixtures.src(s, d, "documents"),
        "doc_id", "lang", "text",
        Map("en" -> 3000L, "de" -> 1500L), defaultBudget = 500L)),
    "q138_packed_sequences" -> ((s, d) =>
      // the ASSEMBLED 256-token training sequences (docs + "</s>"
      // separators, boundary-spanning); shuffle carries per-(doc, seq)
      // SEGMENTS, never per-token rows
      TextOps.packedSequenceTexts(Fixtures.src(s, d, "documents"),
        "doc_id", "text", seqLen = 256)),
    "q139_cluster_assign" -> ((s, d) =>
      // semantic cluster assignment against FIXED centroids (so the
      // argmax is oracle-checkable in SQL); one codegen'd projection
      VectorOps.clusterAssign(Fixtures.src(s, d, "embeddings"),
        "vec_id", "embedding", blockCentroids)),
    "q140_cluster_balanced_sample" -> ((s, d) => {
      // cluster-balanced data mixing: per-semantic-cluster COUNT caps
      // (weight 1) in md5 order — clusterAssign ∘ budgetSample
      val assigned = VectorOps.clusterAssign(Fixtures.src(s, d, "embeddings"),
        "vec_id", "embedding", blockCentroids)
      TextOps.budgetSample(assigned, "vec_id", "cluster", lit(1L),
        Map("0" -> 30L, "1" -> 25L), defaultBudget = 20L)
        .select(col("vec_id"), col("stratum").cast("int").as("cluster"))
    }),
    "q141_corpus_span_dedup" -> ((s, d) =>
      // incremental span dedup: every 8-token span the CORPUS (doc_id%10
      // != 0, via its persisted window-hash index) already has is cut
      // from the batch (doc_id%10 == 0); corpus text never re-read
      TextOps.removeCorpusSpans(
        Fixtures.src(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", Fixtures.docSpanIndex(s, d))),
    "q142_span_ingest" -> ((s, d) => {
      // the ingest pipeline WITH the text-rewriting span stage: q120's
      // admission checks, then admitted docs lose every span the corpus
      // already has (pre-batch span-index view) and the CUT text commits.
      // Result = the corpus table after the batch, text included.
      val corpus = Fixtures.spanIngestCorpus(s, d)
      graft.streaming.StreamingDedup.processBatch(
        Fixtures.src(s, d, "documents").filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text"),
        0L, "doc_id", "text", corpus, Fixtures.spanIngestSigIndex(s, d),
        span = Some(graft.streaming.StreamingDedup.SpanStage(
          Fixtures.spanIngestSpanIndex(s, d))))
      corpus.toDF.select("doc_id", "text")
    }),
    "q143_seq_packing_bpe" -> ((s, d) =>
      // packing placement budgeted in BPE-ISH tokens (word pieces /
      // single symbols), not whitespace words — the pluggable nTokens
      // Column seam of packSequences; same distributed prefix sum
      TextOps.packSequences(Fixtures.src(s, d, "documents"),
        "doc_id", TextOps.tokenCount(col("text")), 256, 1)),
    "q144_packed_bpe_texts" -> ((s, d) =>
      // assembled sequences over a caller-supplied token ARRAY (the
      // BPE-ish regex split) — the toks Column seam of
      // packedSequenceTexts; per-(doc, seq) segment shuffle unchanged
      TextOps.packedSequenceTexts(Fixtures.src(s, d, "documents"),
        "doc_id",
        regexp_extract_all(col("text"),
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)),
        256, "</s>")),
    "q145_dsir_weights" -> ((s, d) => {
      // DSIR data selection: per-doc log-likelihood ratio of target-vs-raw
      // hashed n-gram bucket distributions; target = the doc_id%10==0
      // slice (stand-in for a quality reference set)
      val docs = Fixtures.src(s, d, "documents")
      TextOps.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text", numBuckets = 4096)
        .select(col("doc_id"), round(col("dsir_score"), 6).as("dsir_score"))
    }),
    "q146_dsir_sample" -> ((s, d) => {
      // DSIR's resampling step: Gumbel top-k over the q145 scores —
      // deterministic md5-uniform noise, so both engines select the
      // identical k docs
      val docs = Fixtures.src(s, d, "documents")
      val scored = TextOps.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text", numBuckets = 4096)
      TextOps.dsirSample(scored, "doc_id", "dsir_score",
          k = 100, temperature = 1.0, seed = 42L)
        .select(col("doc_id"), round(col("dsir_score"), 6).as("dsir_score"),
          round(col("sample_key"), 6).as("sample_key"))
    }),
    "q129_keep_best_per_cluster" -> ((s, d) => {
      // curation keep-one: of each near-dup cluster, keep the HIGHEST
      // quality-scored copy (ties break to the smaller id); singletons
      // keep themselves
      val docs = Fixtures.src(s, d, "documents")
      Dedup.keepBestPerCluster(
        docs.withColumn("q", TextOps.qualityScore(col("text"))),
        "doc_id", col("q"),
        Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7))
        .select("doc_id")
    }),
    "q130_image_dhash_dedup" -> ((s, d) => {
      // perceptual image near-dup: block-pattern PNGs seeded doc_id % 40,
      // one tier kept original, one bilinear-downscaled, one jpeg
      // re-encoded — dHash + Hamming pigeonhole pairs each pattern's
      // three byte-level-distinct copies, nothing across patterns
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 120)
        .select(col("doc_id"),
          lit(90).as("w"), lit(80).as("h"),
          pmod(col("doc_id"), lit(40)).cast("long").as("seed"))
      val imgs = Multimodal.renderBlockPngs(base, "w", "h", "seed")
        .select("doc_id", "content")
      val all = imgs.filter(col("doc_id") < 40)
        .unionByName(Multimodal.resizeImages(
          imgs.filter(col("doc_id") >= 40 && col("doc_id") < 80),
          "content", 45, 40))
        .unionByName(Multimodal.transcodeImages(
          imgs.filter(col("doc_id") >= 80), "content", "jpeg"))
      Multimodal.dHashPairs(all, "doc_id", "content")
        .select(col("id_a"), col("id_b"))
    }),
    "q133_video_dhash_dedup" -> ((s, d) => {
      // video near-dup by frame-fingerprint voting: 3-frame block-pattern
      // MJPEGs; tier 1 rescales ALL of tier 0's frames (full twin — 3
      // matches), tier 2 shares exactly ONE frame (below minMatches=2 —
      // must NOT pair)
      val g = pmod(col("doc_id"), lit(30)).cast("long")
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 90)
        .select(col("doc_id"),
          when(col("doc_id") < 60,
            array(g * 10 + 1, g * 10 + 2, g * 10 + 3))
            .otherwise(array(g * 10 + 3, g * 2 + 900, g * 2 + 901))
            .as("seeds"),
          when(col("doc_id").between(30, 59), lit(45)).otherwise(lit(90))
            .cast("int").as("w"),
          when(col("doc_id").between(30, 59), lit(40)).otherwise(lit(80))
            .cast("int").as("h"))
      Multimodal.videoDHashPairs(
        Multimodal.renderBlockMjpegs(base, "seeds", "w", "h")
          .select("doc_id", "content"),
        "doc_id", "content", minMatches = 2)
        .withColumn("matches", col("matches").cast("long"))
    }),
    "q132_perceptual_ingest" -> ((s, d) => {
      // the ingest pipeline WITH the perceptual stage: text checks as
      // q120, then 64-bit image-dHash dedup within the batch (planted
      // JPEG-re-encoded intra twins drop) and against the persisted
      // fingerprint index (planted half-size corpus twins drop — their
      // texts are unique, so only the perceptual stage can catch them).
      // Survivors land in the corpus AND the fp index under one batch
      // commit; the result joins the two id sets so divergence breaks it.
      val corpus = Fixtures.perceptualCorpus(s, d)
      val fpIdx = Fixtures.perceptualFpIndex(s, d)
      graft.streaming.StreamingDedup.processBatch(
        Fixtures.perceptualBatch(s, d), 0L, "doc_id", "text",
        corpus, Fixtures.perceptualSigIndex(s, d),
        fp = Some(graft.streaming.StreamingDedup.FingerprintStage("img", fpIdx)))
      corpus.toDF.select("doc_id")
        .join(fpIdx.toDF.select(col("id").as("doc_id")), Seq("doc_id"))
    }),
    "q131_audio_fp_dedup" -> ((s, d) => {
      // perceptual audio near-dup: segment-pattern WAVs seeded doc_id %
      // 40, one tier original, one half-volume, one quarter-volume — the
      // energy-envelope fingerprint + Hamming pigeonhole pairs each
      // pattern's byte-distinct copies, nothing across patterns
      val base = Fixtures.src(s, d, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 120)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(40)).cast("long").as("seed"))
      val wavs = Multimodal.renderSegmentWavs(base, "seed")
        .select("doc_id", "content")
      val all = wavs.filter(col("doc_id") < 40)
        .unionByName(Multimodal.scaleWavVolume(
          wavs.filter(col("doc_id") >= 40 && col("doc_id") < 80),
          "content", 1, 2))
        .unionByName(Multimodal.scaleWavVolume(
          wavs.filter(col("doc_id") >= 80), "content", 1, 4))
      Multimodal.audioFingerprintPairs(all, "doc_id", "content")
        .select(col("id_a"), col("id_b"))
    }),
    "q127_repetition_stats" -> ((s, d) =>
      // Gopher-style repetition quality filters (dup line/word fractions
      // per-row; n-gram fractions via map-side-combined gram counts)
      TextOps.repetitionStats(Fixtures.src(s, d, "documents"), "doc_id", "text")),
    "q125_chunk_tokens" -> ((s, d) =>
      // context-length chunking for training/RAG prep: 40-token windows
      // with 8-token overlap — one codegen'd projection, no shuffle
      TextOps.chunkTokens(Fixtures.src(s, d, "documents"), "doc_id", "text",
        size = 40, overlap = 8)),
    "q40_text_stats" -> ((s, d) =>
      Fixtures.src(s, d, "documents").select(
        col("doc_id"),
        TextOps.wordCount(col("text")).cast("long").as("word_count"),
        TextOps.tokenCount(col("text")).cast("long").as("token_count"),
        round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextOps.meanWordLength(col("text")), 6).as("mean_word_len"))),
    "q62_split_bucket" -> ((s, d) =>
      Fixtures.src(s, d, "documents").select(col("doc_id"),
        TextOps.splitBucket(col("doc_id"), 10).as("bucket"))),
    "q41_exact_dedup" -> ((s, d) =>
      TextOps.exactDedup(Fixtures.src(s, d, "documents"), "doc_id", "text")),
    "q42_fingerprint_dedup" -> ((s, d) =>
      TextOps.fingerprintDedup(Fixtures.src(s, d, "documents"), "doc_id", "text")),
    "q43_langid" -> ((s, d) =>
      Fixtures.src(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),
    "q44_quality_score" -> ((s, d) =>
      Fixtures.src(s, d, "documents")
        .select(col("doc_id"), round(TextOps.qualityScore(col("text")), 6).as("quality"))),

    // ---- LLM-pipeline: near-dup dedup ----
    "q45_minhash_neardup" -> ((s, d) =>
      Dedup.nearDupPairs(Fixtures.src(s, d, "documents"), "doc_id", "text",
        threshold = 0.7).select("id_a", "id_b")),
    "q61_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        Dedup.jaccardJoin(Fixtures.src(s, d, "documents"), "doc_id", "text",
          threshold = 0.7).select("id_a", "id_b"))),
    "q59_jaccard_join" -> ((s, d) =>
      Dedup.jaccardJoin(Fixtures.src(s, d, "documents"), "doc_id", "text",
        threshold = 0.7).select("id_a", "id_b")),
    "q46_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Fixtures.src(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, md5Basis = true).select("id_a", "id_b")),
    // incremental cross-corpus dedup: tonight's batch (doc_id % 10 == 0)
    // signatures ONLY itself and band-joins against the PERSISTED corpus
    // signature index — the corpus text is read for candidate verify only
    "q116_incremental_neardup" -> ((s, d) => {
      val docs = Fixtures.src(s, d, "documents")
      Dedup.nearDupPairsAgainst(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        Fixtures.docSigIndex(s, d), docs.filter(col("doc_id") % 10 =!= 0),
        threshold = 0.7)
        .select("new_id", "corpus_id")
    }),
    "q120_stream_dedup_ingest" -> ((s, d) => {
      // the FULL ingest-with-dedup pipeline as one batch: exact intra-batch
      // dedup, LSH intra-batch near-dup (larger id drops), LSH vs the
      // persisted corpus signature index (corpus wins), survivors appended
      // exactly-once. Result = the corpus table after the batch.
      val docs = Fixtures.src(s, d, "documents")
      val corpus = Fixtures.streamDedupCorpus(s, d)
      graft.streaming.StreamingDedup.processBatch(
        docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
        0L, "doc_id", "text", corpus, Fixtures.streamDedupIndex(s, d))
      corpus.toDF.select("doc_id")
    }),
    "q123_semantic_dedup_ingest" -> ((s, d) => {
      // the ingest pipeline WITH the semantic stage: text checks as q120,
      // then embedding near-dup within the batch (planted colinear
      // intra-batch twins drop) and against the corpus's persisted IVF
      // index (planted corpus twins drop — their texts share no shingles,
      // so only the vector stage can catch them). Survivors land in the
      // corpus AND the IVF index under one batch commit; the result joins
      // the two tables' id sets, so any divergence breaks the row count.
      val corpus = Fixtures.semanticDedupCorpus(s, d)
      val ivf = Fixtures.semanticDedupIvfIndex(s, d)
      graft.streaming.StreamingDedup.processBatch(
        Fixtures.semanticDedupBatch(s, d), 0L, "doc_id", "text",
        corpus, Fixtures.semanticDedupSigIndex(s, d),
        embed = Some(graft.streaming.StreamingDedup.EmbedStage("v", ivf)))
      corpus.toDF.select("doc_id")
        .join(ivf.toDF.select("doc_id"), Seq("doc_id"))
    }),
    "q47_dedup_keep" -> ((s, d) => {
      val docs = Fixtures.src(s, d, "documents")
      val drops = Dedup.dropIds(
        Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7))
      docs.join(drops, docs("doc_id") === drops("drop_id"), "left_anti")
        .select("doc_id")
    }),

    // split sizing + partition-sorted planning are read-side only: the
    // scan of a many-small-file table returns exactly the table
    "q98_split_sizing" -> ((s, d) => Fixtures.lineitemTinySplits(s, d).toDF),
    // per-LSM-level codecs: snappy L0 merged into a zstd compacted base
    "q99_per_level_codec" -> ((s, d) => Fixtures.ordersPerLevelCodec(s, d).toDF),

    // ---- LLM-pipeline: vector similarity ----
    // the corpus lives IN the table format: ARRAY<FLOAT> round-trips the
    // graft table and brute-force ANN runs over the table scan
    "q97_graft_ann" -> ((s, d) => {
      val t = Fixtures.embeddingsGraft(s, d).toDF
      val q = t.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getSeq[Double](0)
      VectorOps.cosineTopK(t.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 20)
    }),
    "q48_ann_brute_topk" -> ((s, d) => {
      val emb = Fixtures.src(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getSeq[Double](0)
      VectorOps.cosineTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 20)
    }),
    "q49_ann_lsh_topk" -> ((s, d) => {
      // RECALL oracle: the corpus is embeddings ∪ 20 deterministic
      // perturbations of the query vector (cos ≈ 0.999 ≫ 0.44, the natural
      // max), so the true top-20 is separable and the oracle is the exact
      // brute-force ranking — the banded LSH must recover it in full.
      val (corpus, q) = annRecallCorpus(s, d)
      VectorOps.cosineTopKLsh(corpus, "vec_id", "embedding", q, 20)
    }),
    "q56_ann_ivf_topk" -> ((s, d) => {
      // same separable fixture as q49; IVF coarse-quantizes the corpus and
      // probes the 4 of 16 centroid cells nearest the query — the exact
      // brute-force oracle asserts full recall of the planted top-20
      val (corpus, q) = annRecallCorpus(s, d)
      VectorOps.cosineTopKIvf(corpus, "vec_id", "embedding", q, 20,
        numCentroids = 16, nProbe = 4)
    }),
    "q60_ann_ivf_index" -> ((s, d) => {
      // persisted IVF index (graft table partitioned by cluster): the probe
      // reads only nProbe partitions; exact oracle asserts full recall
      val (_, q) = annRecallCorpus(s, d)
      VectorOps.ivfIndexTopK(Fixtures.annIvfIndex(s, d), q, 20, nProbe = 4)
    }),
    "q117_knn_join" -> ((s, d) => {
      // batch-query ANN: top-20 per query through the (table, bucket)-local
      // LSH join; the separable fixture makes the exact per-query ranking a
      // full-recall oracle (see Fixtures.knnRecallCorpus)
      val (qs, corpus) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.knnJoin(qs, "query_id", "qv", corpus, "vec_id", "v", 20)
        .select("query_id", "corpus_id", "cosine_sim", "knn_rank")
    }),
    "q118_sql_pipeline_ann" -> ((s, d) => {
      // SQL-ONLY user path: the brute-force ANN top-20 re-expressed in pure
      // SQL through the injected pipeline functions (graft_cosine)
      Fixtures.src(s, d, "embeddings").createOrReplaceTempView("emb_sql")
      s.sql(
        """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
          |           FROM emb_sql WHERE vec_id = 0)
          |SELECT vec_id,
          |  ROUND(graft_cosine(CAST(embedding AS ARRAY<DOUBLE>), qv), 6) AS cosine_sim
          |FROM emb_sql CROSS JOIN q WHERE vec_id <> 0
          |ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin)
    }),
    "q119_knn_join_ivf" -> ((s, d) => {
      // batch-query ANN against the PERSISTED IVF index: each query routes
      // to its nProbe cells; runtime partition filtering prunes the corpus
      // scan to the probed cells. Same exact-ranking oracle as q117 — the
      // separable fixture makes IVF recall total.
      val (qs, _) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.knnJoinIvf(qs, "query_id", "qv",
        Fixtures.knnIvfIndex(s, d), 20)
        .select("query_id", "corpus_id", "cosine_sim", "knn_rank")
    }),
    "q121_knn_join_ivf_append" -> ((s, d) => {
      // same retrieval as q119, but the index was built on 2/3 of the
      // corpus and the rest APPENDED via appendToIvfIndex — incremental
      // index maintenance must not change what retrieval returns
      val (qs, _) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.knnJoinIvf(qs, "query_id", "qv",
        Fixtures.knnIvfIndexIncremental(s, d), 20)
        .select("query_id", "corpus_id", "cosine_sim", "knn_rank")
    }),
    "q124_knn_join_ivf_sq" -> ((s, d) => {
      // same retrieval as q119 against the SCALAR-QUANTIZED index (8-bit
      // codes scored in codegen, top rerank·k per query reranked exactly
      // against the full-precision corpus — FAISS IVF-SQ8 + refine). The
      // separable fixture's margins dwarf the quantization error, so the
      // exact brute-force oracle is full-recall here too.
      val (qs, corpus) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.knnJoinIvfSq(qs, "query_id", "qv",
        Fixtures.knnIvfSqIndex(s, d), corpus, "vec_id", "v", 20)
        .select("query_id", "corpus_id", "cosine_sim", "knn_rank")
    }),
    "q147_knn_join_ivf_pq" -> ((s, d) => {
      // same retrieval as q119/q124 against the PRODUCT-QUANTIZED index
      // (m-byte codes, ADC table-lookup scoring, top rerank·k reranked
      // exactly — FAISS IVFPQ + refine). The separable fixture's margins
      // (0.999 vs 0.44) dwarf even PQ's reconstruction error, so the
      // exact brute-force oracle is full-recall here too.
      val (qs, corpus) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.knnJoinIvfPq(qs, "query_id", "qv",
        Fixtures.knnIvfPqIndex(s, d), corpus, "vec_id", "v", 20)
        .select("query_id", "corpus_id", "cosine_sim", "knn_rank")
    }),
    "q122_embed_neardup_vs_index" -> ((s, d) => {
      // semantic dedup of a new batch against the PERSISTED corpus index:
      // probe nProbe cells per vector, exact-cosine verify, threshold cut.
      // Same separable fixture as q119 — every qualifying pair shares its
      // probed cell, so the approximate op recalls the exact oracle.
      val (qs, _) = Fixtures.knnRecallCorpus(s, d)
      VectorOps.embedNearDupAgainst(qs, "query_id", "qv",
        Fixtures.knnIvfIndex(s, d), threshold = 0.95)
    }),
    "q50_embed_sim_pairs" -> ((s, d) => {
      // same separable fixture; oracle is exact ALL-PAIRS cosine ≥ 0.95
      // (LSH-independent), so every qualifying pair must be recalled
      val (corpus, _) = annRecallCorpus(s, d)
      VectorOps.nearDupPairs(corpus, "vec_id", "embedding", threshold = 0.95)
    }),
    "q148_wordpiece_tokens" -> ((s, d) => {
      // vocab-driven WordPiece tokenization (greedy longest-match,
      // "##" continuations, whole-word [UNK] on a dead end) as a pure
      // codegen'd expression over the committed literal vocab; the
      // oracle replays the identical greedy walk as a recursive CTE
      Fixtures.src(s, d, "documents").select(col("doc_id"),
        TextOps.wordpieceCount(col("text"), WordpieceVocab).cast("long")
          .as("n_tokens"),
        concat_ws(" ", TextOps.wordpieceTokens(col("text"), WordpieceVocab))
          .as("tokens"))
    }),
    "q149_bpe_tokens" -> ((s, d) => {
      // merges-list BPE (GPT-style: lowest-rank adjacent pair fuses, all
      // occurrences left-to-right before re-ranking) over the committed
      // literal merges table; the oracle replays the identical pinned
      // walk as a recursive CTE over token LISTS
      Fixtures.src(s, d, "documents").select(col("doc_id"),
        TextOps.bpeCount(col("text"), BpeMerges).cast("long")
          .as("n_tokens"),
        concat_ws(" ", TextOps.bpeTokens(col("text"), BpeMerges))
          .as("tokens"))
    })
  )

  /** The committed q148 WordPiece vocab: a handful of full words and
    * multi-char pieces over the fixture's vocabulary, plus every
    * lowercase letter and digit in BOTH initial and continuation form —
    * ASCII-word totality (no [UNK] on the fixture), with real
    * longest-match structure. Both engines consume THIS list.
    */
  val WordpieceVocab: Seq[String] = {
    val chars = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)
    (Seq("the", "table", "value", "scan", "data",
      "ta", "sc", "val", "wind", "qu") ++ chars ++
      Seq("##ble", "##an", "##ue", "##ow", "##er", "##ta", "##ata", "##s") ++
      chars.map("##" + _)).distinct
  }

  /** The committed q149 BPE merges table, in PRIORITY ORDER (rank =
    * position): common English bigram fusions, multi-step chains with
    * real precedence structure (t+a → ta+ble, v+al → val+u → valu+e),
    * digit merges, and self-pairs (a+a, aa+aa — the overlapping-run case
    * where left-to-right non-overlap semantics matter). Both engines
    * consume THIS list.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("en", "t"),
    ("o", "r"), ("ti", "on"), ("t", "i"), ("s", "t"), ("a", "r"),
    ("o", "u"), ("l", "e"), ("o", "f"), ("in", "g"), ("a", "l"),
    ("b", "le"), ("t", "a"), ("ta", "ble"), ("v", "al"), ("val", "u"),
    ("valu", "e"), ("s", "c"), ("sc", "an"), ("d", "at"), ("dat", "a"),
    ("c", "o"), ("co", "m"), ("q", "u"), ("e", "s"), ("w", "h"),
    ("wh", "i"), ("whi", "le"), ("1", "0"), ("10", "0"),
    ("a", "a"), ("aa", "aa"))

  /** Shared q49/q50/q56/q60 fixture — see [[Fixtures.annRecallCorpus]]. */
  private def annRecallCorpus(s: SparkSession, d: String): (DataFrame, Seq[Double]) =
    Fixtures.annRecallCorpus(s, d)

  // ---------------- oracle SQL (DuckDB dialect) ----------------

  // mirrors TextOps.occurrences on the padded lowercase text
  private def occSql(marker: String): String =
    s"CAST((LENGTH(p) - LENGTH(REPLACE(p, ' $marker ', ''))) / ${marker.length + 2} AS BIGINT)"

  private def markerSumSql(ws: Seq[String]): String =
    ws.map(occSql).mkString(" + ")

  private val wordCountSql =
    """LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))"""

  private val langidSql = {
    val scores = TextOps.LangMarkers.map { case (lang, ws) => lang -> markerSumSql(ws) }
    val withScores = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val best = "GREATEST(" + scores.map("s_" + _._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       | $cases ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, text, $withScores, $best AS best
       |      FROM (SELECT doc_id, text, ' ' || LOWER(text) || ' ' AS p FROM documents))""".stripMargin
  }

  private val qualitySql = {
    val mwl = s"(CASE WHEN $wordCountSql = 0 THEN 0.0 ELSE " +
      s"CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE) / $wordCountSql END)"
    val alpha = "(CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE " +
      "CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / LENGTH(text) END)"
    val stopHits = markerSumSql(TextOps.EnglishStopwords)
    val stopRatio = s"(CASE WHEN $wordCountSql = 0 THEN 0.0 ELSE " +
      s"CAST($stopHits AS DOUBLE) / $wordCountSql END)"
    s"""SELECT doc_id, ROUND((
       |  (CASE WHEN LENGTH(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END) +
       |  (CASE WHEN $mwl BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
       |  (CASE WHEN $alpha >= 0.6 THEN 1.0 ELSE 0.0 END) +
       |  (CASE WHEN $stopRatio >= 0.05 THEN 1.0 ELSE 0.0 END)) / 4.0, 6) AS quality
       |FROM (SELECT doc_id, text, ' ' || LOWER(text) || ' ' AS p FROM documents)""".stripMargin
  }

  // SimHash oracle: recompute the md5-basis sketches IN DUCKDB (two 32-bit
  // digest halves per token, per-bit majority vote) and take exact all-pairs
  // Hamming <= 3 — the engine's 5-block pigeonhole blocking must find the
  // identical pair set.
  private val simhashOracle = {
    def bitSum(arr: String, i: Int) =
      s"CASE WHEN list_sum(list_transform($arr, h -> CASE WHEN ((h >> $i) & 1) = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END"
    val skLo = (0 until 32).map(i => bitSum("lo", i)).mkString(" + ")
    val skHi = (0 until 32).map(i => bitSum("hi", i)).mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, list_distinct(string_split_regex(
       |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS t
       |  FROM documents),
       |th AS (SELECT doc_id,
       |    list_transform(t, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hi,
       |    list_transform(t, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS lo
       |  FROM toks),
       |sk AS (SELECT doc_id, $skLo AS sk_lo, $skHi AS sk_hi FROM th)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sk_lo, b.sk_lo)) + bit_count(xor(a.sk_hi, b.sk_hi)) <= 3""".stripMargin
  }

  // Vector-LSH oracles: the plane constants are md5-derived and inlined as
  // q49/q50 share this corpus CTE: embeddings (minus the query row) plus 20
  // deterministic near-copies of the query vector — byte-identical to
  // SparkEntry.annRecallCorpus. The oracles below are EXACT (brute-force /
  // all-pairs), independent of the LSH, so a green hash asserts full recall.
  private val annCorpusCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |synth AS (SELECT e.vec_id + 100000 AS vec_id,
      |  list_transform(range(1, 65), i -> q.qv[i] + 0.05 * e.v[i]) AS v
      |  FROM e, q WHERE e.vec_id BETWEEN 1 AND 20),
      |corpus AS (SELECT vec_id, v FROM e WHERE vec_id <> 0
      |           UNION ALL SELECT vec_id, v FROM synth)""".stripMargin

  private val annBruteOracle =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      | ROUND(LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) AS cosine_sim
      |FROM embeddings WHERE vec_id <> 0
      |ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin

  private val annLshOracle =
    s"""$annCorpusCte
       |SELECT vec_id, ROUND(LIST_COSINE_SIMILARITY(v, (SELECT qv FROM q)), 6) AS cosine_sim
       |FROM corpus ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin

  // per-query exact brute-force top-20 over the knn fixture (ranking on
  // the ROUNDED cosine + corpus_id tiebreak, identical to the engine)
  private val knnJoinOracle =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5),
      |synth AS (SELECT 100000 * q.query_id + e.vec_id AS vec_id,
      |  list_transform(range(1, 65), i -> q.qv[i] + 0.05 * e.v[i]) AS v
      |  FROM e CROSS JOIN qs q WHERE e.vec_id BETWEEN 21 AND 40),
      |corpus AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM synth),
      |scored AS (SELECT q.query_id, c.vec_id AS corpus_id,
      |  ROUND(LIST_COSINE_SIMILARITY(q.qv, c.v), 6) AS cosine_sim
      |  FROM qs q CROSS JOIN corpus c),
      |ranked AS (SELECT query_id, corpus_id, cosine_sim,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine_sim DESC, corpus_id) AS knn_rank FROM scored)
      |SELECT query_id, corpus_id, cosine_sim, knn_rank
      |FROM ranked WHERE knn_rank <= 20""".stripMargin

  private val embedPairsOracle =
    s"""$annCorpusCte
       |SELECT a.vec_id AS id_a, x.vec_id AS id_b,
       |  ROUND(LIST_COSINE_SIMILARITY(a.v, x.v), 6) AS cosine_sim
       |FROM corpus a JOIN corpus x ON a.vec_id < x.vec_id
       |WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, x.v), 6) >= 0.95""".stripMargin

  // all-pairs exact n-gram Jaccard (the oracle is exact; the engine finds the
  // same pairs via MinHash LSH — the sf0.01 corpus has a wide gap between
  // true near-dups (J >= 0.9) and noise (J < 0.07), so LSH recall is exact)
  private val jaccardPairsSql =
    """WITH toks AS (SELECT doc_id,
      |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
      |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM toks),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS j
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b FROM p WHERE j >= 0.7""".stripMargin

  // cross pairs only: new batch (doc_id % 10 = 0) × corpus (rest) — the
  // engine finds these through the persisted signature index
  private val incrementalPairsSql =
    """WITH toks AS (SELECT doc_id,
      |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
      |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM toks),
      |p AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |  CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS j
      |  FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
      |SELECT new_id, corpus_id FROM p WHERE j >= 0.7""".stripMargin

  // the full ingest-with-dedup pipeline, replayed in SQL: exact intra-batch
  // dedup (min id per text), intra-batch near-dup (exact jaccard >= 0.7,
  // larger id drops), then vs-corpus near-dup (corpus wins); final corpus =
  // original corpus ∪ admitted
  private val streamDedupSql =
    """WITH toks AS (SELECT doc_id,
      |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
      |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM toks),
      |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY text),
      |ip AS (SELECT b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM exact_keep)
      |    AND b.doc_id IN (SELECT doc_id FROM exact_keep)
      |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
      |intra_keep AS (SELECT doc_id FROM exact_keep
      |  WHERE doc_id NOT IN (SELECT id_b FROM ip)),
      |cp AS (SELECT a.doc_id AS new_id FROM sh a JOIN sh b ON b.doc_id % 10 <> 0
      |  WHERE a.doc_id IN (SELECT doc_id FROM intra_keep)
      |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7)
      |SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
      |UNION ALL
      |SELECT doc_id FROM intra_keep
      |  WHERE doc_id NOT IN (SELECT new_id FROM cp)""".stripMargin

  // q123: the full text+embedding ingest pipeline, replayed in SQL. The
  // batch (doc_id % 10 = 0 plus the planted colinear twins, see
  // Fixtures.semanticDedupBatch) runs exact dedup → re-ingest drop →
  // intra-batch exact-jaccard near-dup → vs-corpus near-dup → intra-batch
  // embedding near-dup (cosine >= 0.95, larger id drops) → vs-corpus
  // embedding near-dup; final corpus = original corpus ∪ admitted. Exact
  // cosine is a faithful oracle for the engine's LSH/IVF stages because
  // the only pairs above 0.95 are the planted colinear twins (max natural
  // pair cosine is ~0.51) and colinear vectors share every LSH bucket and
  // IVF cell — recall is structural, not probabilistic.
  private val semanticDedupSql =
    """WITH e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |corpus AS (SELECT d.doc_id, d.text, e.v FROM documents d
      |  JOIN e USING (doc_id) WHERE d.doc_id % 10 <> 0),
      |batch AS (
      |  SELECT d.doc_id, d.text, e.v FROM documents d JOIN e USING (doc_id)
      |  WHERE d.doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000, 'twin ' || CAST(doc_id AS VARCHAR),
      |    LIST_TRANSFORM(v, x -> x * 1.01) FROM e WHERE doc_id % 50 = 1
      |  UNION ALL
      |  SELECT doc_id + 5000, 'pairtwin ' || CAST(doc_id AS VARCHAR),
      |    LIST_TRANSFORM(v, x -> x * 1.02) FROM e WHERE doc_id % 100 = 0),
      |bsh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
      |    RANGE(1, GREATEST(LEN(t)-2, 1)+1), i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id,
      |    STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |    FROM batch)),
      |csh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
      |    RANGE(1, GREATEST(LEN(t)-2, 1)+1), i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id,
      |    STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |    FROM corpus)),
      |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM batch GROUP BY text),
      |fresh AS (SELECT doc_id FROM exact_keep
      |  WHERE doc_id NOT IN (SELECT doc_id FROM corpus)),
      |ip AS (SELECT b.doc_id AS id_b FROM bsh a JOIN bsh b ON a.doc_id < b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM fresh)
      |    AND b.doc_id IN (SELECT doc_id FROM fresh)
      |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
      |intra_keep AS (SELECT doc_id FROM fresh
      |  WHERE doc_id NOT IN (SELECT id_b FROM ip)),
      |cp AS (SELECT a.doc_id FROM bsh a JOIN csh b ON a.doc_id <> b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM intra_keep)
      |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
      |text_adm AS (SELECT doc_id FROM intra_keep
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cp)),
      |si AS (SELECT b.doc_id FROM batch a JOIN batch b ON a.doc_id < b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM text_adm)
      |    AND b.doc_id IN (SELECT doc_id FROM text_adm)
      |    AND ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 6) >= 0.95),
      |sem1 AS (SELECT doc_id FROM text_adm
      |  WHERE doc_id NOT IN (SELECT doc_id FROM si)),
      |sc AS (SELECT a.doc_id FROM batch a JOIN corpus c ON a.doc_id <> c.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM sem1)
      |    AND ROUND(LIST_COSINE_SIMILARITY(a.v, c.v), 6) >= 0.95)
      |SELECT doc_id FROM corpus
      |UNION ALL
      |SELECT doc_id FROM sem1 WHERE doc_id NOT IN (SELECT doc_id FROM sc)""".stripMargin

  // min-reachable-id clustering over the exact jaccard>=0.7 pair graph
  private val dupClustersSql =
    """WITH RECURSIVE toks AS (SELECT doc_id,
      |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
      |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM toks),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
      |e AS (SELECT id_a AS src, id_b AS dst FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |n AS (SELECT DISTINCT src AS id FROM e),
      |reach AS (SELECT id, id AS label FROM n
      |  UNION SELECT e.src, reach.label FROM e JOIN reach ON e.dst = reach.id)
      |SELECT id AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_append_scan" -> "SELECT * FROM lineitem",
    "q02_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q03_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_quantity < 10 AND l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'""".stripMargin,
    "q04_partition_prune" ->
      """SELECT l_linestatus, COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_linestatus""".stripMargin,
    "q05_stats_range" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200""".stripMargin,
    "q06_zorder_scan" -> "SELECT * FROM lineitem",
    "q73_truncate" -> "SELECT * FROM lineitem WHERE l_returnflag = 'R'",
    "q74_schema_merge" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,
    "q75_bloom_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey IN (42, 4242, 9999)""".stripMargin,
    "q76_dpp_join" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag""".stripMargin,
    "q77_rowkind_apply" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority,
        | CASE WHEN o_orderkey % 3 = 0 THEN '+U' ELSE '+I' END AS op
        |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin,
    "q57_hilbert_scan" -> "SELECT * FROM lineitem",
    "q07_overwrite_dynamic" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        | l_extendedprice,
        | CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_discount END AS l_discount,
        | l_tax, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem""".stripMargin,

    "q10_pk_upsert" -> mergedOrders,
    "q66_dv_pk_table" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey % 13 <> 0",
    "q67_rescaled_bucket" -> mergedOrders,
    "q11_pk_agg" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM ($mergedOrders) GROUP BY o_orderstatus""".stripMargin,
    "q12_intra_batch_dup" -> mergedOrders,
    "q13_time_travel" -> "SELECT * FROM orders",
    "q58_compacted_full" -> "SELECT * FROM orders",
    "q63_pk_partitioned" -> mergedOrders,
    "q14_incremental" ->
      """SELECT '+I' AS _row_kind, CAST(2 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        | o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q15_delete" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderstatus <> 'F'",
    "q71_stream_availablenow" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderstatus <> 'F'",
    "q110_stream_from_timestamp" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderdate,
        | CASE WHEN o_orderkey % 7 = 1 THEN 'RUSH'
        |      ELSE o_orderpriority END AS o_orderpriority
        |FROM orders WHERE o_orderkey % 7 <= 1""".stripMargin,
    "q111_stream_compacted_full" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderdate,
        | CASE WHEN o_orderkey % 7 = 1 THEN 'RUSH'
        |      ELSE o_orderpriority END AS o_orderpriority
        |FROM orders""".stripMargin,
    "q16_update" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         | CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
         | o_orderdate, o_orderpriority
         |FROM ($mergedOrders)""".stripMargin,
    "q126_delta_protocol_dml" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority FROM orders),
        |merged AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority FROM base)
        |SELECT * FROM merged
        |WHERE NOT (o_orderkey % 7 = 0 AND o_totalprice > 0)""".stripMargin,
    "q17_merge_into" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 5 = 0 THEN 0.0
        |      WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        | o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,
    "q18_first_row" -> mergedOrders,
    "q19_partial_update" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 3 = 0 THEN 'RUSH' ELSE CAST(NULL AS VARCHAR) END AS o_orderpriority
        |FROM orders""".stripMargin,
    "q20_agg_engine" -> eventsAggSql,
    "q21_compact_invariance" -> mergedOrders,
    "q22_rollback" -> "SELECT * FROM orders",
    "q23_expire_snapshots" -> mergedOrders,
    "q24_read_optimized" -> mergedOrders,
    "q25_audit_log" ->
      """SELECT '+I' AS _row_kind, CAST(1 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT '+I', CAST(2 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice * 2, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q26_schema_evolution" ->
      """SELECT n_nationkey, n_name AS nation_name, n_regionkey,
        | CAST(NULL AS VARCHAR) AS n_comment
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'filled' FROM nation""".stripMargin,
    "q27_point_lookup" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey = 42",
    "q81_metadata_row_index" ->
      """SELECT n_nationkey, n_name,
        | ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS __row_index
        |FROM nation""".stripMargin,
    "q28_sys_snapshots" ->
      """SELECT CAST(1 AS BIGINT) AS snapshot_id, 'APPEND' AS commit_kind
        |UNION ALL SELECT CAST(2 AS BIGINT), 'APPEND'
        |UNION ALL SELECT CAST(3 AS BIGINT), 'COMPACT'""".stripMargin,
    "q29_sys_partitions" ->
      """SELECT l_returnflag AS partition, COUNT(*) AS record_count
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q72_sys_manifests" ->
      """SELECT 'lineitem' AS tbl, COUNT(*) AS live_rows FROM lineitem
        |UNION ALL
        |SELECT 'orders_pk', COUNT(DISTINCT o_orderkey) FROM orders""".stripMargin,
    "q64_meta_agg" ->
      """SELECT l_returnflag, COUNT(*) AS cnt, COUNT(l_orderkey) AS cnt_ok,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        | MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        |FROM lineitem WHERE l_returnflag IN ('R', 'A')
        |GROUP BY l_returnflag""".stripMargin,
    "q65_bucketed_join" ->
      "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders",
    "q30_sql_select" -> mergedOrders,
    "q31_sql_agg" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM ($mergedOrders) GROUP BY o_orderstatus""".stripMargin,
    "q32_sql_point_lookup" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey = 42",
    "q33_sql_time_travel" -> "SELECT * FROM orders",
    "q52_sql_update_merge" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         | CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
         | o_orderdate, o_orderpriority
         |FROM ($mergedOrders)""".stripMargin,
    "q34_dv_delete" -> "SELECT * FROM lineitem WHERE NOT (l_quantity < 25)",
    "q35_orc_scan" -> "SELECT * FROM lineitem",
    "q102_avro_scan" -> "SELECT * FROM lineitem",
    "q103_avro_pk_upsert" -> mergedOrders,
    "q106_per_level_format" -> mergedOrders,
    "q107_sql_dynamic_overwrite" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        | l_extendedprice,
        | CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_discount END AS l_discount,
        | l_tax, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem""".stripMargin,
    "q108_multimodal_decode" ->
      """SELECT doc_id,
        | 8 + (doc_id % 40) AS width,
        | 8 + ((doc_id * 7) % 30) AS height,
        | CAST(3 AS BIGINT) AS channels,
        | (8 + (doc_id % 40)) * (8 + ((doc_id * 7) % 30)) * 3 * ((doc_id * 31) % 256)
        |   AS pixel_sum,
        | 'imageio' AS decoder
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "q109_nested_evolution" ->
      """SELECT o_orderkey,
        | CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price,
        | o_orderstatus AS status,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio
        |FROM orders""".stripMargin,
    "q112_audio_decode" ->
      """SELECT doc_id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | 800 + (doc_id % 10) * 80 AS frames,
        | 1000 + ((doc_id * 13) % 50) * 100 AS peak,
        | CAST(1000 + ((doc_id * 13) % 50) * 100 AS DOUBLE) AS rms,
        | 'javasound' AS decoder
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "q113_mjpeg_frames" ->
      """SELECT doc_id, CAST(f.k AS BIGINT) AS frame_index,
        | CAST(16 + f.k * 2 AS BIGINT) AS width, CAST(9 AS BIGINT) AS height
        |FROM documents, (VALUES (0),(1),(2),(3)) AS f(k)
        |WHERE doc_id < 60""".stripMargin,
    "q115_remote_lookup" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey % 500 = 0",
    "q114_cdc_ingest" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        | CASE WHEN o_orderkey % 7 = 0 THEN 'ch-' || CAST(o_orderkey % 3 AS VARCHAR)
        |      ELSE NULL END AS channel
        |FROM orders
        |WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)""".stripMargin,
    "q104_append_bucketed" -> "SELECT * FROM lineitem WHERE l_orderkey % 5 = 0",
    "q105_append_bucket_join" ->
      """SELECT o.o_orderkey, li.qty, o.o_totalprice, o.o_orderpriority
        |FROM (SELECT l_orderkey, SUM(l_quantity) AS qty FROM lineitem GROUP BY 1) li
        |JOIN orders o ON li.l_orderkey = o.o_orderkey""".stripMargin,
    "q36_default_values" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 3 = 0 THEN 'RUSH' ELSE 'NONE' END AS o_orderpriority
        |FROM orders""".stripMargin,
    "q37_compaction_changelog" ->
      """SELECT '-U' AS _row_kind, CAST(3 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT '+U', CAST(3 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice * 2, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q38_cross_partition" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,
    "q100_cross_partition_lookup_changelog" ->
      """SELECT '-U' AS _row_kind, CAST(2 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT '+U', CAST(2 AS BIGINT), o_orderkey, o_custkey, 'X',
        | o_totalprice * 2, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q101_cross_partition_point_lookup" ->
      """SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        | o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey = 42""".stripMargin,

    "q39_merge_sections" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 AND o_orderkey <= 500 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority FROM orders""".stripMargin,
    "q51_partial_compact" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey % 13 <> 0",
    "q53_dynamic_bucket" -> mergedOrders,
    "q78_dynamic_point_lookup" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_orderkey = 42",
    "q79_branch_read" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        | CASE WHEN o_orderkey % 5 = 0 THEN 'BRANCHED' ELSE o_orderpriority END
        |   AS o_orderpriority
        |FROM orders""".stripMargin,
    "q82_consumer_progress" ->
      "SELECT 'etl_main' AS consumer_id, CAST(3 AS BIGINT) AS next_snapshot",
    "q83_watermarks" ->
      """SELECT CAST(1 AS BIGINT) AS snapshot_id,
        |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS watermark
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  CAST(GREATEST(
        |    (SELECT epoch_us(MAX(ts)) FROM events WHERE event_id % 2 = 0),
        |    epoch_us(MAX(ts))) AS BIGINT)
        |FROM events WHERE event_id % 2 = 1""".stripMargin,
    "q84_computed_columns" ->
      """SELECT event_id, ts, user_id, CAST(hour(ts) AS INT) AS hh,
        |  strftime(ts, '%Y-%m-%d') AS ts_day FROM events""".stripMargin,
    "q85_append_compact" -> "SELECT * FROM lineitem",
    "q86_orphan_cleanup" -> "SELECT * FROM orders",
    "q87_read_limit" ->
      """SELECT CAST(3 AS BIGINT) AS batches,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows""".stripMargin,
    "q88_lookup_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q91_sketch_agg" ->
      """SELECT user_id, true AS hll_ok, true AS theta_exact
        |FROM events GROUP BY user_id""".stripMargin,
    "q92_bucket_key" ->
      s"SELECT * FROM ($mergedOrders) WHERE o_custkey IN (37, 38)",
    "q54_agg_partial_compact" -> eventsAggSql,
    "q55_lookup_changelog" ->
      """SELECT '-U' AS _row_kind, CAST(2 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT '+U', CAST(2 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice * 2, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    "q93_ignore_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice * 3
        |   ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority,
        | CASE WHEN o_orderkey % 3 = 1 THEN '+U' ELSE '+I' END AS op
        |FROM orders""".stripMargin,
    "q96_changelog_decoupled" ->
      """SELECT '+I' AS _row_kind, CAST(1 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT '-U', CAST(2 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT '+U', CAST(2 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice * 2, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q95_record_expire" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |   ELSE o_totalprice END AS o_totalprice,
        | o_orderdate, o_orderpriority, CAST(2000000000 AS INT) AS rt
        |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin,
    "q94_noop_changelog" ->
      """SELECT '-U' AS _row_kind, CAST(2 AS BIGINT) AS _sequence_number,
        | o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 = 0
        |UNION ALL
        |SELECT '+U', CAST(2 AS BIGINT), o_orderkey, o_custkey, o_orderstatus,
        | o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 = 0""".stripMargin,
    "q80_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-7, 1)+1),
        |  i -> ARRAY_TO_STRING(t[i:i+7], ' '))) AS s FROM toks),
        |bg AS (SELECT DISTINCT UNNEST(s) AS gram FROM g WHERE doc_id % 50 = 0),
        |cg AS (SELECT doc_id, UNNEST(s) AS gram FROM g)
        |SELECT cg.doc_id, COUNT(DISTINCT cg.gram) AS hits
        |FROM cg JOIN bg ON cg.gram = bg.gram
        |GROUP BY cg.doc_id""".stripMargin,
    "q89_line_dedup" ->
      """WITH pages AS (
        |  SELECT doc_id // 3 AS page_id,
        |    '=== SITE HEADER ===' || chr(10) ||
        |    STRING_AGG(text, chr(10) ORDER BY doc_id) || chr(10) ||
        |    '(c) example.com - all rights reserved' AS text
        |  FROM documents GROUP BY 1),
        |sp AS (SELECT page_id, STRING_SPLIT(text, chr(10)) AS ls FROM pages),
        |lines AS (SELECT page_id, UNNEST(ls) AS line,
        |    UNNEST(RANGE(1, LEN(ls) + 1)) AS pos FROM sp),
        |common AS (SELECT LOWER(TRIM(line)) AS nline FROM lines
        |  WHERE LEN(TRIM(line)) > 0
        |  GROUP BY 1 HAVING COUNT(DISTINCT page_id) >= 2),
        |kept AS (SELECT page_id, pos, line FROM lines
        |  WHERE LOWER(TRIM(line)) NOT IN (SELECT nline FROM common)),
        |agg AS (SELECT page_id, STRING_AGG(line, chr(10) ORDER BY pos)
        |    AS text_dedup FROM kept GROUP BY page_id)
        |SELECT p.page_id, COALESCE(a.text_dedup, '') AS text_dedup
        |FROM pages p LEFT JOIN agg a USING (page_id)""".stripMargin,
    "q90_bm25" -> bm25Sql,
    "q70_token_freq" ->
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 5""".stripMargin,
    "q69_pii_redaction" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted,
        |  LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}')) AS n_phone,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4
        |FROM documents""".stripMargin,
    "q68_repeated_spans" ->
      """WITH toks AS (SELECT doc_id,
        |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'start': i-1, 'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM toks),
        |flat AS (SELECT doc_id, s.start AS start, s.win AS win FROM w),
        |c AS (SELECT win, COUNT(*) AS occurrences FROM flat GROUP BY win)
        |SELECT f.doc_id, f.start, c.occurrences FROM flat f JOIN c USING (win)
        |WHERE c.occurrences >= 2""".stripMargin,
    "q128_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0
        |    < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5 ELSE 0.1 END""".stripMargin,
    // q134: duplicated 8-token spans cut from every occurrence except the
    // lexicographically smallest (doc_id, start); rebuild = kept tokens
    // single-space-joined, untouched docs pass original text through
    "q134_span_dedup" ->
      """WITH toks AS (SELECT doc_id, text,
        |  STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM documents),
        |w AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'start': i-1, 'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM toks),
        |flat AS (SELECT doc_id, s.start AS start, s.win AS win FROM w),
        |marked AS (SELECT doc_id, start,
        |  COUNT(*) OVER (PARTITION BY win) AS occ,
        |  ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, start) AS rn FROM flat),
        |cov AS (SELECT DISTINCT doc_id, UNNEST(RANGE(start, start+8)) AS pos
        |        FROM marked WHERE occ >= 2 AND rn > 1),
        |rb AS (SELECT DISTINCT doc_id FROM cov),
        |posed AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)+1),
        |  i -> {'pos': i-1, 'tok': t[i]})) AS s FROM toks
        |  WHERE doc_id IN (SELECT doc_id FROM rb)),
        |pflat AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM posed),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pflat p
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = p.doc_id AND c.pos = p.pos)),
        |reb AS (SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY pos) AS clean,
        |        COUNT(*) AS nk FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN r.doc_id IS NOT NULL THEN COALESCE(b.clean, '')
        |       ELSE d.text END AS text,
        |  CASE WHEN r.doc_id IS NOT NULL
        |       THEN LEN(STRING_SPLIT_REGEX(TRIM(d.text), '\s+')) - COALESCE(b.nk, 0)
        |       ELSE 0 END AS removed_tokens
        |FROM documents d LEFT JOIN rb r USING (doc_id)
        |LEFT JOIN reb b USING (doc_id)""".stripMargin,
    "q135_seq_packing" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens + 1) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS first_seq,
        |  GREATEST(CAST(start_offset // 256 AS BIGINT),
        |    CAST((start_offset + n_tokens - 1) // 256 AS BIGINT)) AS last_seq
        |FROM c""".stripMargin,
    "q136_det_shuffle" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY MD5('7:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS shuffle_pos
        |FROM documents""".stripMargin,
    // q138: token stream = per-doc tokens + '</s>', docs concatenated by
    // id, cut at every 256 global positions; text = space-joined tokens
    "q138_packed_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  LIST_APPEND(STRING_SPLIT_REGEX(TRIM(text), '\s+'), '</s>') AS toks
        |  FROM documents),
        |o AS (SELECT doc_id, toks,
        |  CAST(COALESCE(SUM(CAST(LEN(toks) AS BIGINT)) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM t),
        |p AS (SELECT doc_id, start + s.i AS g, s.tok AS tok FROM o,
        |  UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)+1),
        |    i -> {'i': i-1, 'tok': toks[i]})) AS u(s))
        |SELECT CAST(g // 256 AS BIGINT) AS seq_id,
        |  STRING_AGG(tok, ' ' ORDER BY g) AS text,
        |  COUNT(*) AS n_tokens
        |FROM p GROUP BY 1""".stripMargin,
    // q143: q135's placement with BPE-ish counts (word pieces / single
    // non-space symbols) instead of whitespace words
    "q143_seq_packing_bpe" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens + 1) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS first_seq,
        |  GREATEST(CAST(start_offset // 256 AS BIGINT),
        |    CAST((start_offset + n_tokens - 1) // 256 AS BIGINT)) AS last_seq
        |FROM c""".stripMargin,
    // q144: q138's assembly over the BPE-ish token array
    "q144_packed_bpe_texts" ->
      """WITH t AS (SELECT doc_id,
        |  LIST_APPEND(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'),
        |    '</s>') AS toks
        |  FROM documents),
        |o AS (SELECT doc_id, toks,
        |  CAST(COALESCE(SUM(CAST(LEN(toks) AS BIGINT)) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM t),
        |p AS (SELECT doc_id, start + s.i AS g, s.tok AS tok FROM o,
        |  UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)+1),
        |    i -> {'i': i-1, 'tok': toks[i]})) AS u(s))
        |SELECT CAST(g // 256 AS BIGINT) AS seq_id,
        |  STRING_AGG(tok, ' ' ORDER BY g) AS text,
        |  COUNT(*) AS n_tokens
        |FROM p GROUP BY 1""".stripMargin,
    // q145/q146: DSIR — hashed unigram+bigram buckets (the q62 md5-bucket
    // hash), Laplace-smoothed target-vs-raw log-likelihood ratios
    "q145_dsir_weights" -> (s"WITH $dsirScoreCte\n" +
      """SELECT d.doc_id, ROUND(COALESCE(sc.s, 0.0), 6) AS dsir_score
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin),
    "q146_dsir_sample" -> (s"WITH $dsirScoreCte,\n" +
      """k AS (SELECT d.doc_id, COALESCE(sc.s, 0.0) AS score,
        |  COALESCE(sc.s, 0.0) / 1.0 - LN(-LN(
        |    (('0x' || SUBSTR(MD5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      + 0.5) / 4294967296.0)) AS key
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
        |SELECT doc_id, ROUND(score, 6) AS dsir_score,
        |  ROUND(key, 6) AS sample_key
        |FROM k ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),
    // q139: first-max tie-break mirrors Spark's array_position-first
    "q139_cluster_assign" ->
      s"""WITH s AS (SELECT vec_id, ${blockDotSql(0)} AS d0,
         |  ${blockDotSql(1)} AS d1, ${blockDotSql(2)} AS d2,
         |  ${blockDotSql(3)} AS d3 FROM embeddings)
         |SELECT vec_id,
         |  CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 THEN 0
         |       WHEN d1 >= d2 AND d1 >= d3 THEN 1
         |       WHEN d2 >= d3 THEN 2 ELSE 3 END AS cluster
         |FROM s""".stripMargin,
    // q140: weight-1 budget ⇒ exclusive cumsum = row_number - 1
    "q140_cluster_balanced_sample" ->
      s"""WITH s AS (SELECT vec_id, ${blockDotSql(0)} AS d0,
         |  ${blockDotSql(1)} AS d1, ${blockDotSql(2)} AS d2,
         |  ${blockDotSql(3)} AS d3 FROM embeddings),
         |a AS (SELECT vec_id,
         |  CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 THEN 0
         |       WHEN d1 >= d2 AND d1 >= d3 THEN 1
         |       WHEN d2 >= d3 THEN 2 ELSE 3 END AS cluster FROM s),
         |r AS (SELECT vec_id, cluster, ROW_NUMBER() OVER (PARTITION BY cluster
         |  ORDER BY MD5('0:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM a)
         |SELECT vec_id, cluster FROM r
         |WHERE rn - 1 < CASE cluster WHEN 0 THEN 30 WHEN 1 THEN 25
         |                            ELSE 20 END""".stripMargin,
    // q142: q120's admitted set (exact → intra-jaccard → vs-corpus), then
    // the q141 span cut of admitted docs vs corpus windows; final corpus
    // = original rows ∪ admitted rows with CUT text
    "q142_span_ingest" ->
      """WITH ntoks AS (SELECT doc_id,
        |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
        |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM ntoks),
        |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |  WHERE doc_id % 10 = 0 GROUP BY text),
        |ip AS (SELECT b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM exact_keep)
        |    AND b.doc_id IN (SELECT doc_id FROM exact_keep)
        |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
        |intra_keep AS (SELECT doc_id FROM exact_keep
        |  WHERE doc_id NOT IN (SELECT id_b FROM ip)),
        |cp AS (SELECT a.doc_id AS new_id FROM sh a JOIN sh b ON b.doc_id % 10 <> 0
        |  WHERE a.doc_id IN (SELECT doc_id FROM intra_keep)
        |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
        |adm AS (SELECT doc_id FROM intra_keep
        |  WHERE doc_id NOT IN (SELECT new_id FROM cp)),
        |ct AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 10 <> 0),
        |cwu AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM ct),
        |cw AS (SELECT DISTINCT s.win AS win FROM cwu),
        |bt AS (SELECT doc_id, text, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM adm)),
        |bwu AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'start': i-1, 'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM bt),
        |bw AS (SELECT doc_id, s.start AS start, s.win AS win FROM bwu),
        |cov AS (SELECT DISTINCT doc_id, UNNEST(RANGE(start, start+8)) AS pos
        |        FROM bw WHERE win IN (SELECT win FROM cw)),
        |rb AS (SELECT DISTINCT doc_id FROM cov),
        |posed AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)+1),
        |  i -> {'pos': i-1, 'tok': t[i]})) AS s FROM bt
        |  WHERE doc_id IN (SELECT doc_id FROM rb)),
        |pflat AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM posed),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pflat p
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = p.doc_id AND c.pos = p.pos)),
        |reb AS (SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY pos) AS clean
        |        FROM kept GROUP BY doc_id)
        |SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT b.doc_id,
        |  CASE WHEN r.doc_id IS NOT NULL THEN COALESCE(e.clean, '')
        |       ELSE b.text END AS text
        |FROM bt b LEFT JOIN rb r USING (doc_id)
        |LEFT JOIN reb e USING (doc_id)""".stripMargin,
    // q141: batch (doc_id%10=0) windows matching ANY corpus (doc_id%10<>0)
    // 8-token window are cut by covered position (no canonical keeper on
    // the batch side — the corpus has it)
    "q141_corpus_span_dedup" ->
      """WITH ct AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 10 <> 0),
        |cwu AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM ct),
        |cw AS (SELECT DISTINCT s.win AS win FROM cwu),
        |bt AS (SELECT doc_id, text, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |bwu AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-8+1, 0)+1),
        |  i -> {'start': i-1, 'win': ARRAY_TO_STRING(t[i:i+7], ' ')})) AS s FROM bt),
        |bw AS (SELECT doc_id, s.start AS start, s.win AS win FROM bwu),
        |cov AS (SELECT DISTINCT doc_id, UNNEST(RANGE(start, start+8)) AS pos
        |        FROM bw WHERE win IN (SELECT win FROM cw)),
        |rb AS (SELECT DISTINCT doc_id FROM cov),
        |posed AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)+1),
        |  i -> {'pos': i-1, 'tok': t[i]})) AS s FROM bt
        |  WHERE doc_id IN (SELECT doc_id FROM rb)),
        |pflat AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM posed),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pflat p
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = p.doc_id AND c.pos = p.pos)),
        |reb AS (SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY pos) AS clean,
        |        COUNT(*) AS nk FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN r.doc_id IS NOT NULL THEN COALESCE(b.clean, '')
        |       ELSE d.text END AS text,
        |  CASE WHEN r.doc_id IS NOT NULL
        |       THEN LEN(STRING_SPLIT_REGEX(TRIM(d.text), '\s+')) - COALESCE(b.nk, 0)
        |       ELSE 0 END AS removed_tokens
        |FROM documents d LEFT JOIN rb r USING (doc_id)
        |LEFT JOIN reb b USING (doc_id)
        |WHERE d.doc_id % 10 = 0""".stripMargin,
    // q137: admit docs per stratum in md5 order while the EXCLUSIVE
    // within-stratum token cumsum is under the budget (crossing doc kept)
    "q137_token_budget_sample" ->
      """WITH t AS (SELECT doc_id, lang AS stratum,
        |  CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
        |  MD5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |c AS (SELECT doc_id, stratum, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY stratum ORDER BY k, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)
        |SELECT doc_id, stratum, n_tokens FROM c
        |WHERE cum < CASE stratum WHEN 'en' THEN 3000
        |                         WHEN 'de' THEN 1500 ELSE 500 END""".stripMargin,
    // q133: only the full-twin tier reaches minMatches (3 of 3 frames);
    // the one-shared-frame tier stays below the vote threshold
    "q133_video_dhash_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(3 AS BIGINT) AS matches
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 30
        |WHERE a.doc_id < 30""".stripMargin,
    // q132: every planted twin is dropped (unique texts, twin images), so
    // the admitted set is exactly corpus ∪ held-out naturals = all
    // doc_id < 300 (the intra pair keeps its smaller, natural id)
    "q132_perceptual_ingest" ->
      "SELECT doc_id FROM documents WHERE doc_id < 300",
    // q131: like q130 — the energy fingerprint is exactly preserved under
    // integer gain scaling (adjacent segment amplitudes >=1024 apart), so
    // the pairs are exactly the within-pattern groups
    "q131_audio_fp_dedup" ->
      """WITH g AS (SELECT doc_id, doc_id % 40 AS s FROM documents
        |           WHERE doc_id < 120)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id""".stripMargin,
    // q130: the dHash is exactly preserved by the fixture's construction
    // (adjacent grid cells >=16 gray levels apart survive bilinear
    // resampling and jpeg quantization), so the pairs are exactly the
    // within-pattern (doc_id % 40) groups
    "q130_image_dhash_dedup" ->
      """WITH g AS (SELECT doc_id, doc_id % 40 AS s FROM documents
        |           WHERE doc_id < 120)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id""".stripMargin,
    "q129_keep_best_per_cluster" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id,
         |  STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
         |  FROM documents),
         |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t)-2, 1)+1),
         |  i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s FROM toks),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
         |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) >= 0.7),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (SELECT id, id AS label FROM n
         |  UNION SELECT e.src, reach.label FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY id),
         |q AS ($qualitySql),
         |lab AS (SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cl, q.quality
         |  FROM documents d LEFT JOIN clusters c USING (doc_id) JOIN q USING (doc_id))
         |SELECT doc_id FROM (SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY cl ORDER BY quality DESC, doc_id) AS rk
         |  FROM lab) WHERE rk = 1""".stripMargin,
    "q127_repetition_stats" ->
      """WITH t AS (SELECT doc_id,
        |  LIST_FILTER(STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS w,
        |  STRING_SPLIT(text, chr(10)) AS lines FROM documents),
        |flat AS (SELECT doc_id, LEN(w) AS n_words, LEN(LIST_DISTINCT(w)) AS nd_words,
        |  LEN(lines) AS n_lines, LEN(LIST_DISTINCT(lines)) AS nd_lines, w FROM t),
        |bg AS (SELECT doc_id, g, COUNT(*) AS c FROM (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w)-1, 0)+1),
        |    i -> ARRAY_TO_STRING(w[i:i+1], ' '))) AS g FROM flat) GROUP BY 1, 2),
        |bga AS (SELECT doc_id, MAX(c) AS max_bg FROM bg GROUP BY 1),
        |tg AS (SELECT doc_id, g, COUNT(*) AS c FROM (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w)-2, 0)+1),
        |    i -> ARRAY_TO_STRING(w[i:i+2], ' '))) AS g FROM flat) GROUP BY 1, 2),
        |tga AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_tg,
        |  SUM(c) AS tot_tg FROM tg GROUP BY 1)
        |SELECT f.doc_id,
        |  ROUND(CASE WHEN n_lines > 0 THEN (n_lines - nd_lines)::DOUBLE / n_lines ELSE 0 END, 6) AS dup_line_frac,
        |  ROUND(CASE WHEN n_words > 0 THEN (n_words - nd_words)::DOUBLE / n_words ELSE 0 END, 6) AS dup_word_frac,
        |  ROUND(CASE WHEN n_words > 0 THEN COALESCE(max_bg, 0) * 2.0 / n_words ELSE 0 END, 6) AS top_bigram_frac,
        |  ROUND(CASE WHEN COALESCE(tot_tg, 0) > 0 THEN COALESCE(dup_tg, 0)::DOUBLE / tot_tg ELSE 0 END, 6) AS dup_trigram_frac
        |FROM flat f LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)""".stripMargin,
    "q125_chunk_tokens" ->
      """WITH toks AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t,
        |  CASE WHEN LEN(t) <= 40 THEN 1
        |       ELSE 1 + CAST(CEIL((LEN(t) - 40) / 32.0) AS INT) END AS nc FROM toks)
        |SELECT doc_id, u.chunk_idx, u.chunk_text, u.n_tokens FROM (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(nc), i -> STRUCT_PACK(
        |    chunk_idx := CAST(i AS INTEGER),
        |    chunk_text := ARRAY_TO_STRING(t[i*32+1 : i*32+40], ' '),
        |    n_tokens := CAST(LEN(t[i*32+1 : i*32+40]) AS INTEGER)))) AS u
        |  FROM c)""".stripMargin,
    "q40_text_stats" ->
      s"""SELECT doc_id,
         | CAST($wordCountSql AS BIGINT) AS word_count,
         | CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS token_count,
         | ROUND(CASE WHEN LENGTH(text) = 0 THEN 0.0
         |   ELSE CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / LENGTH(text) END, 6) AS alpha_ratio,
         | ROUND(CASE WHEN $wordCountSql = 0 THEN 0.0
         |   ELSE CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE) / $wordCountSql END, 6) AS mean_word_len
         |FROM documents""".stripMargin,
    "q62_split_bucket" ->
      """SELECT doc_id,
        | CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS INTEGER) AS bucket
        |FROM documents""".stripMargin,
    "q41_exact_dedup" ->
      """SELECT MD5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY MD5(text)""".stripMargin,
    "q42_fingerprint_dedup" ->
      """SELECT MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', '', 'g')) AS fp,
        | MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,
    "q43_langid" -> langidSql,
    "q44_quality_score" -> qualitySql,
    "q45_minhash_neardup" -> jaccardPairsSql,
    "q59_jaccard_join" -> jaccardPairsSql,
    "q116_incremental_neardup" -> incrementalPairsSql,
    "q120_stream_dedup_ingest" -> streamDedupSql,
    "q123_semantic_dedup_ingest" -> semanticDedupSql,
    "q61_dup_clusters" -> dupClustersSql,
    "q47_dedup_keep" ->
      s"""SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM ($jaccardPairsSql))""".stripMargin,
    "q48_ann_brute_topk" -> annBruteOracle,
    "q97_graft_ann" -> annBruteOracle,
    "q98_split_sizing" -> "SELECT * FROM lineitem",
    "q99_per_level_codec" -> "SELECT * FROM orders",
    "q46_simhash_pairs" -> simhashOracle,
    "q49_ann_lsh_topk" -> annLshOracle,
    "q56_ann_ivf_topk" -> annLshOracle,
    "q117_knn_join" -> knnJoinOracle,
    "q118_sql_pipeline_ann" -> annBruteOracle,
    "q119_knn_join_ivf" -> knnJoinOracle,
    "q121_knn_join_ivf_append" -> knnJoinOracle,
    "q124_knn_join_ivf_sq" -> knnJoinOracle,
    "q147_knn_join_ivf_pq" -> knnJoinOracle,
    "q122_embed_neardup_vs_index" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5),
        |synth AS (SELECT 100000 * q.query_id + e.vec_id AS vec_id,
        |  list_transform(range(1, 65), i -> q.qv[i] + 0.05 * e.v[i]) AS v
        |  FROM e CROSS JOIN qs q WHERE e.vec_id BETWEEN 21 AND 40),
        |corpus AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM synth)
        |SELECT q.query_id AS new_id, c.vec_id AS corpus_id,
        |  ROUND(LIST_COSINE_SIMILARITY(q.qv, c.v), 6) AS cosine_sim
        |FROM qs q CROSS JOIN corpus c
        |WHERE q.query_id <> c.vec_id
        |  AND ROUND(LIST_COSINE_SIMILARITY(q.qv, c.v), 6) >= 0.95""".stripMargin,
    "q60_ann_ivf_index" -> annLshOracle,
    "q50_embed_sim_pairs" -> embedPairsOracle,
    "q148_wordpiece_tokens" -> wordpieceOracle,
    "q149_bpe_tokens" -> bpeOracle
  )

  /** q148 oracle: the IDENTICAL greedy longest-match walk as a recursive
    * CTE — per word, the step at `pos` takes the longest vocab body
    * matching (continuations iff pos > 1); a word whose recursion stops
    * before pos = len+1 had a dead end and becomes one [UNK]. Vocab is
    * interpolated from [[WordpieceVocab]] so the engines can never skew.
    */
  private def wordpieceOracle: String = {
    val vals = WordpieceVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE vocab(piece) AS (VALUES $vals),
       |vb AS (SELECT piece,
       |  CASE WHEN piece LIKE '##%' THEN SUBSTR(piece, 3) ELSE piece END AS body,
       |  (piece LIKE '##%') AS is_cont FROM vocab),
       |words AS (
       |  SELECT doc_id, s.i AS wi, s.w AS word FROM (
       |    SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS toks
       |    FROM documents),
       |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)+1),
       |      i -> {'i': i, 'w': toks[i]})) AS u(s)
       |  WHERE LEN(s.w) > 0),
       |steps AS (
       |  SELECT doc_id, wi, word, 1 AS pos, CAST(NULL AS VARCHAR) AS piece,
       |    0 AS step
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, wi, word, pos + blen,
       |    CASE WHEN pos = 1 THEN '' ELSE '##' END || SUBSTR(word, pos, blen),
       |    step + 1
       |  FROM (
       |    SELECT s.*, (SELECT MAX(LEN(v.body)) FROM vb v
       |      WHERE v.is_cont = (s.pos > 1)
       |        AND SUBSTR(s.word, s.pos, LEN(v.body)) = v.body) AS blen
       |    FROM steps s WHERE s.pos <= LEN(s.word))
       |  WHERE blen IS NOT NULL),
       |done AS (SELECT doc_id, wi, MAX(pos) AS maxpos,
       |  ANY_VALUE(LEN(word)) AS wl FROM steps GROUP BY 1, 2),
       |pieces AS (
       |  SELECT p.doc_id, p.wi, p.step, p.piece FROM steps p
       |  JOIN done d ON p.doc_id = d.doc_id AND p.wi = d.wi
       |    AND d.maxpos = d.wl + 1
       |  WHERE p.piece IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id, wi, 1 AS step, '[UNK]' AS piece FROM done
       |  WHERE maxpos <= wl)
       |SELECT d.doc_id, CAST(COUNT(p.piece) AS BIGINT) AS n_tokens,
       |  COALESCE(STRING_AGG(p.piece, ' ' ORDER BY p.wi, p.step), '') AS tokens
       |FROM documents d LEFT JOIN pieces p ON d.doc_id = p.doc_id
       |GROUP BY d.doc_id""".stripMargin
  }

  /** q149 oracle: the IDENTICAL pinned BPE walk as a recursive CTE over
    * token LISTS — per word, each step fuses the leftmost occurrence of
    * the PINNED current pair, re-ranking (lowest merge rank, leftmost on
    * ties) only when the pin is exhausted; recursion stops when no listed
    * pair remains. The merges table (key = a || CHR(1) || b → rank) is
    * interpolated from [[BpeMerges]] so the engines can never skew.
    * Pair-rank lookups go through COALESCE(map[k][1], BIG) — DuckDB map
    * extraction yields a LIST, and an unlisted pair must rank as
    * unmergeable, not as an empty list that sorts below every rank.
    */
  private def bpeOracle: String = {
    val keys = BpeMerges.map { case (a, b) => s"'$a' || CHR(1) || '$b'" }
      .mkString(", ")
    val vals = BpeMerges.indices.mkString(", ")
    val rmap = s"MAP([$keys], [$vals])"
    val big = BpeMerges.size
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, s.i AS wi, s.w AS word FROM (
       |    SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS ws
       |    FROM documents),
       |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ws)+1), i -> {'i': i, 'w': ws[i]})) AS u(s)),
       |steps AS (
       |  SELECT doc_id, wi,
       |    LIST_TRANSFORM(RANGE(1, LEN(word)+1), i -> word[i]) AS toks,
       |    CAST(NULL AS VARCHAR) AS cur, 0 AS step
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, wi,
       |    toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:],
       |    nxt, step + 1
       |  FROM (
       |    SELECT doc_id, wi, toks, step, nxt,
       |      CASE WHEN pc > 0 THEN pc ELSE LIST_POSITION(rk, LIST_MIN(rk)) END AS p
       |    FROM (
       |      SELECT doc_id, wi, toks, step, pairs, rk, pc,
       |        CASE WHEN pc > 0 THEN cur
       |             WHEN LIST_MIN(rk) < $big THEN pairs[LIST_POSITION(rk, LIST_MIN(rk))]
       |             ELSE NULL END AS nxt
       |      FROM (
       |        SELECT doc_id, wi, toks, cur, step, pairs,
       |          LIST_TRANSFORM(pairs, k -> COALESCE($rmap[k][1], $big)) AS rk,
       |          COALESCE(LIST_POSITION(pairs, cur), 0) AS pc
       |        FROM (
       |          SELECT doc_id, wi, toks, cur, step,
       |            LIST_TRANSFORM(RANGE(1, LEN(toks)),
       |              i -> toks[i] || CHR(1) || toks[i+1]) AS pairs
       |          FROM steps WHERE LEN(toks) > 1)))
       |    WHERE nxt IS NOT NULL)),
       |final AS (
       |  SELECT s.doc_id, s.wi, s.toks FROM steps s
       |  JOIN (SELECT doc_id, wi, MAX(step) AS ms FROM steps GROUP BY 1,2) m
       |    ON s.doc_id = m.doc_id AND s.wi = m.wi AND s.step = m.ms),
       |pieces AS (
       |  SELECT f.doc_id, f.wi, u.o AS ord, u.t AS piece
       |  FROM final f, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(f.toks)+1),
       |    i -> {'o': i, 't': f.toks[i]})) AS u2(u))
       |SELECT d.doc_id, CAST(COUNT(p.piece) AS BIGINT) AS n_tokens,
       |  COALESCE(STRING_AGG(p.piece, ' ' ORDER BY p.wi, p.ord), '') AS tokens
       |FROM documents d LEFT JOIN pieces p ON d.doc_id = p.doc_id
       |GROUP BY d.doc_id""".stripMargin
  }
}
