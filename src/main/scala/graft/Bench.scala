package graft

import graft.pipeline.{Dedup, TextOps, VectorOps}
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Headline benchmark (BASELINE.md plan): write throughput, upsert, scans
  * with pruning, merge-on-read before/after compaction, and the two
  * heaviest pipeline ops. Prints ONE JSON line for the driver.
  *
  * The bench host shows up to 8x run-to-run variance under contention
  * (BASELINE.md "variance" note; BENCH_r06 recorded a 41 s minhash sample
  * whose reproducible median is 5 s). To make the official record robust,
  * the suite self-medians: one warm-up pass (JIT + codegen + shuffle-service
  * caches), then SAMPLES timed passes; "queries" carries the per-key
  * medians and "samples" the raw observations. Write benches get a fresh
  * table per pass so every sample measures the same cold-table work.
  */
object Bench {
  private val SAMPLES = 3

  /** The round-6 key set, PINNED: `legacy_total` sums exactly these, so
    * round-over-round comparisons survive new keys accreting into
    * `total` (which keeps growing as capabilities land). Never extend
    * this list — new keys belong in `total` only.
    */
  private val LegacyKeys = Seq("append_write", "upsert", "full_scan",
    "filtered_scan", "mor_read", "compact", "compacted_read",
    "minhash_dedup", "ann_topk", "spj_join_shuffle", "spj_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("graft-bench").toString
    val lineitem = Fixtures.src(spark, sfDir, "lineitem").cache()
    lineitem.count() // warm the source so write benches time the engine
    val orders = Fixtures.src(spark, sfDir, "orders").cache()
    orders.count()
    val docs = Fixtures.src(spark, sfDir, "documents")
    val emb = Fixtures.src(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // storage-partitioned join tables are immutable across passes: only the
    // SELECT is timed, so build them once
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", s"$tmp/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    orders.createOrReplaceTempView("bench_orders_src")
    spark.sql(
      """CREATE TABLE graft.db.spj_fact (o_orderkey BIGINT, o_totalprice DOUBLE)
        |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '16')""".stripMargin)
    spark.sql("INSERT INTO graft.db.spj_fact SELECT o_orderkey, o_totalprice FROM bench_orders_src")
    spark.sql(
      """CREATE TABLE graft.db.spj_dim (o_orderkey BIGINT, o_orderpriority STRING)
        |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '16')""".stripMargin)
    spark.sql("INSERT INTO graft.db.spj_dim SELECT o_orderkey, o_orderpriority FROM bench_orders_src")
    // the signature index is the PERSISTED artifact of incremental dedup —
    // built once (not timed): the bench times the per-batch work
    val sigIndex = Dedup.buildSigIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", s"$tmp/sig_index")
    // the persisted IVF index likewise: build untimed, bench the retrieval
    val ivfIndex = VectorOps.buildIvfIndex(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      s"$tmp/ivf_index", numCentroids = 16)
    // and its scalar-quantized twin (8-bit codes + exact rerank)
    // and the product-quantized twin (m-byte codes + ADC + exact rerank)
    val ivfPqIndex = VectorOps.buildIvfPqIndex(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      s"$tmp/ivf_pq_index", numCentroids = 16, m = 8, codes = 64)
    val ivfSqIndex = VectorOps.buildIvfSqIndex(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      s"$tmp/ivf_sq_index", numCentroids = 16)
    val spjSql =
      """SELECT b.o_orderpriority, SUM(a.o_totalprice) AS s, COUNT(*) AS c
        |FROM graft.db.spj_fact a JOIN graft.db.spj_dim b
        |  ON a.o_orderkey = b.o_orderkey
        |GROUP BY b.o_orderpriority""".stripMargin
    val bucketingKey = "spark.sql.sources.v2.bucketing.enabled"

    /** One full timed pass. Write benches use a pass-private directory so
      * every pass does identical cold-table work.
      */
    def pass(tag: String): collection.Map[String, Double] = {
      val dir = s"$tmp/$tag"
      val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

      // 1. bulk append write (analog: TableWriterBenchmark)
      val liTable = GraftTable.create(spark, s"$dir/li", lineitem.schema,
        partitionKeys = Seq("l_returnflag"))
      results("append_write") = time { liTable.append(lineitem) }

      // 2. upsert of two overlapping batches into a PK table (analog: cluster q1)
      val pk = GraftTable.create(spark, s"$dir/orders_pk", orders.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "16"))
      results("upsert") = time {
        pk.upsert(orders)
        pk.upsert(orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      }

      // 3. full scan + filtered scan (analog: TableReadBenchmark + pruning)
      results("full_scan") = time { liTable.toDF.count() }
      results("filtered_scan") = time {
        liTable.toDF
          .filter(col("l_returnflag") === "R" &&
            col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_quantity") < 10)
          .agg(sum("l_extendedprice")).collect()
      }

      // 3b. z-order sort compaction of the full lineitem table: rewrites
      // every row through the codegen'd curve key — the maintenance hot
      // loop when re-clustering at 100 TB
      results("sort_compact") = time {
        liTable.sortCompact(Seq("l_orderkey", "l_partkey"), "zorder")
      }

      // 4. merge-on-read before vs after compaction
      results("mor_read") = time { pk.toDF.count() }
      results("compact") = time { pk.compact() }
      results("compacted_read") = time { pk.toDF.count() }

      // 4b. remote KV lookup service (paimon-service analog): a cold
      // server over the compacted PK table answers a 2000-key probe set
      // in 4 batches — times the batched bucket-pruned miss path + HTTP
      // round trips; repeat probes would be cache-speed (LookupServiceSpec).
      // Two methodology breaks (BASELINE.md §remote_lookup): r20 sends the
      // 4 independent batches IN FLIGHT CONCURRENTLY
      // (LookupClient.lookupBatches — the many-stream-partitions
      // production shape), so wall is max(batch) instead of sum — r19
      // sequential medians: 0.705/1.208 s; and each batch's misses are
      // now read on the server's handler thread (GraftScan.pointRead), not
      // by a Spark job per batch.
      results("remote_lookup") = time {
        val srv = new graft.service.LookupServer(pk).start()
        try {
          val batches = (0 until 4).map { b =>
            (0 until 500).map(i =>
              Map[String, Any]("o_orderkey" -> (b * 500L + i + 1)))
          }
          graft.service.LookupClient.lookupBatches(srv.endpoint, batches)
        } finally srv.stop()
      }

      // 5. pipeline ops at scale
      results("minhash_dedup") = time {
        Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7).count()
      }
      // 5a2. span-level exact substring dedup (Lee et al. shape): window
      // hashing + covered-position rebuild — tokens-linear by design
      results("span_dedup") = time {
        TextOps.removeRepeatedSpans(docs, "doc_id", "text", n = 8)
          .agg(sum(col("removed_tokens"))).collect()
      }
      results("ann_topk") = time {
        VectorOps.cosineTopK(emb, "vec_id", "embedding", q, 20).collect()
      }
      // 5b. incremental dedup: tonight's batch (10% of docs) against the
      // PERSISTED corpus signature index — times batch signaturing + the
      // band join + candidate verify, never a corpus re-signature
      results("incr_dedup") = time {
        Dedup.nearDupPairsAgainst(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          sigIndex, docs.filter(col("doc_id") % 10 =!= 0),
          threshold = 0.7).count()
      }
      // 5c. batch-query ANN: top-10 neighbors for 50 query vectors through
      // the (table, bucket)-local LSH join
      results("knn_join") = time {
        VectorOps.knnJoin(
          emb.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", emb, "vec_id", "embedding", 10).count()
      }
      // 5d. the same batch retrieval against the PERSISTED IVF index:
      // probe routing + explicitly pruned cell scan + windowed top-k
      results("knn_join_ivf") = time {
        VectorOps.knnJoinIvf(
          emb.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", ivfIndex, 10).count()
      }

      // 5d'. the same retrieval against the SQ8 index: quantized approx
      // scoring over the probed cells + exact rerank of rerank·k
      // candidates — the scan-bytes saving shows at corpus scale, the key
      // here guards that the extra rerank join costs ~nothing
      results("knn_join_ivf_sq") = time {
        VectorOps.knnJoinIvfSq(
          emb.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", ivfSqIndex,
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", 10).count()
      }
      // 5d''. and against the PQ index: m table lookups per candidate
      // instead of dim FMAs; probed cells read at ~m bytes/vector
      results("knn_join_ivf_pq") = time {
        VectorOps.knnJoinIvfPq(
          emb.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", ivfPqIndex,
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", 10).count()
      }

      // 5e. the FULL text+embedding ingest pipeline for one batch (10% of
      // the embedded docs) against a pass-private corpus: exact → re-ingest
      // → intra/vs-corpus text LSH → intra/vs-corpus embedding near-dup →
      // three exactly-once commits (corpus, IVF, sig index). Corpus and
      // index builds are untimed — the bench times the per-batch work,
      // which is what repeats at ingest time.
      val embDocs = docs.join(
        emb.select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("v")), Seq("doc_id"))
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val semCorpus = GraftTable.create(spark, s"$dir/sem_corpus",
        semCorpusDf.select("doc_id", "text").schema)
      semCorpus.append(semCorpusDf.select("doc_id", "text"))
      val semSig = Dedup.buildSigIndex(semCorpusDf, "doc_id", "text", s"$dir/sem_sig")
      val semIvf = VectorOps.buildIvfIndex(semCorpusDf.select("doc_id", "v"),
        "doc_id", "v", s"$dir/sem_ivf", numCentroids = 16)
      val semBatch = embDocs.filter(col("doc_id") % 10 === 0)
      // production mode (trackCounts=false, the r14 default for ingest
      // loops): stage-count barriers off, corpus+IVF commits concurrent
      results("semantic_ingest") = time {
        graft.streaming.StreamingDedup.processBatch(semBatch, 0L,
          "doc_id", "text", semCorpus, semSig,
          embed = Some(graft.streaming.StreamingDedup.EmbedStage("v", semIvf)),
          trackCounts = false)
      }

      // 6. storage-partitioned join with vs without v2 bucketing — the
      // with-SPJ plan has zero exchanges/sorts (asserted in SqlCatalogSpec)
      spark.conf.set(bucketingKey, "false")
      results("spj_join_shuffle") = time { spark.sql(spjSql).collect() }
      spark.conf.set(bucketingKey, "true")
      results("spj_join") = time { spark.sql(spjSql).collect() }
      spark.conf.unset(bucketingKey)
      results
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    val warmup = pass("warmup")
    val passes = (1 to SAMPLES).map(i => pass(s"s$i"))
    val keys = warmup.keys.toSeq
    // the host's contention spikes hit the longest-running keys hardest
    // (observed 22x within-run spread on ann_topk/spj_join_shuffle): give
    // the historically noisy keys 2 extra samples so one contended pair
    // can no longer poison a median-of-3
    val noisy = Set("minhash_dedup", "ann_topk", "spj_join_shuffle", "spj_join")
    val extra = (1 to 2).map { i =>
      val r = pass(s"x$i"); r.filter { case (k, _) => noisy(k) }
    }
    val samplesOf: String => Seq[Double] = k =>
      passes.map(_(k)) ++ extra.flatMap(_.get(k))
    val medians = keys.map(k => k -> median(samplesOf(k)))

    def fmtMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val samplesJson = keys.map { k =>
      "\"" + k + "\":[" + samplesOf(k).map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    val legacyTotal = medians.filter(kv => LegacyKeys.contains(kv._1))
      .map(_._2).sum
    // The detail record (per-key samples + warm-up) goes to STDERR so that
    // stdout carries exactly ONE JSON line for the harness. sbt's logger
    // prefixes captured output with "[info] ", which defeats a line-wise
    // json.loads — build.sbt forces `run / outputStrategy := StdoutOutput`
    // so the forked JVM writes through unprefixed.
    System.err.println(f"""{"metric":"total_detail","value":$total%.3f,"legacy_total":$legacyTotal%.3f,"unit":"sec","medians":${fmtMap(medians)},"samples":$samplesJson,"warmup":${fmtMap(warmup.toSeq)},"sf":"$sfDir"}""")
    println(f"""{"metric":"total","value":$total%.3f,"legacy_total":$legacyTotal%.3f,"unit":"sec","queries":${fmtMap(medians)},"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
