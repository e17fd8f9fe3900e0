package graft.examples

import graft.GraftMeta
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end library walkthrough on the sf0.001 test data: create an
  * append table and a primary-key table, upsert overlapping batches, delete,
  * time-travel, and read the changelog. Run with:
  * {{{ sbt "runMain graft.examples.QuickStart" }}}
  */
object QuickStart {
  /** Two concatenated real JPEGs — a minimal MJPEG stream. */
  private def tinyMjpeg(): Array[Byte] =
    (0 until 2).flatMap { i =>
      val img = new java.awt.image.BufferedImage(6 + i, 4,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray.toSeq
    }.toArray

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .master("local[8]")
      .appName("graft-quickstart")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-quickstart").toString

    // ---- append table over lineitem, partitioned by returnflag ----
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val apT = GraftTable.create(spark, s"$base/lineitem", li.schema,
      partitionKeys = Seq("l_returnflag"))
    apT.append(li)
    println(s"[append] rows=${apT.toDF.count()} (source=${li.count()})")
    val pruned = apT.toDF.filter(col("l_returnflag") === "R")
    println(s"[append] pruned partition R rows=${pruned.count()}")
    pruned.explain("formatted")

    // ---- primary-key table over orders: upsert, delete, time travel ----
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val pkT = GraftTable.create(spark, s"$base/orders", orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
    pkT.upsert(orders)
    val s1 = pkT.store.latestSnapshotId.get
    pkT.upsert(orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    pkT.upsert(orders.filter(col("o_orderkey") % 7 === 0),
      kinds = Some(lit(GraftMeta.KindDelete)))

    println(s"[pk] rows now=${pkT.toDF.count()}  @snapshot-$s1=${pkT.toDF(s1).count()}")
    println(s"[pk] doubled prices sample:")
    pkT.toDF.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 7 =!= 0)
      .select("o_orderkey", "o_totalprice").show(3)
    println(s"[pk] lookup(o_orderkey=8): ${pkT.lookup(Map("o_orderkey" -> 8L))}")
    println(s"[pk] changelog of commit 2:")
    pkT.incremental(s1, s1 + 1).select("_row_kind", "_sequence_number", "o_orderkey").show(3)
    println(s"[pk] snapshots: ${pkT.store.snapshotIds.mkString(",")}")

    // ---- row-level ops + maintenance ----
    pkT.update(col("o_orderstatus") === "O", Map("o_orderpriority" -> lit("1-URGENT")))
    val src = orders.limit(50).withColumn("o_totalprice", lit(1.0))
    pkT.mergeInto(src, col("s.o_orderkey") === col("t.o_orderkey"))
      .whenMatchedUpdate(Map("o_totalprice" -> col("s.o_totalprice")))
      .whenNotMatchedInsertAll()
      .execute()
    println(s"[pk] after update+merge rows=${pkT.toDF.count()}")
    pkT.compact()
    println(s"[pk] after compaction rows=${pkT.toDF.count()} files=" +
      pkT.store.liveFiles(pkT.store.latestSnapshot.get).size)
    println(s"[pk] system('snapshots'):")
    pkT.system("snapshots").show(20, false)

    apT.delete(col("l_returnflag") === "A")
    println(s"[append] after partition delete rows=${apT.toDF.count()}")
    apT.sortCompact(Seq("l_orderkey", "l_partkey"), "zorder")
    println(s"[append] after zorder rows=${apT.toDF.count()}")

    // ---- pipeline layer: dedup, similarity, ANN over the same testdata ----
    import graft.pipeline.{Dedup, TextOps, VectorOps}
    val docs = graft.Fixtures.src(spark, sfDir, "documents")
    println(s"[pipeline] near-dup pairs (minhash+LSH, exact-verified): " +
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7).count())
    println(s"[pipeline] exact jaccard-join pairs (prefix filter): " +
      Dedup.jaccardJoin(docs, "doc_id", "text", threshold = 0.7).count())
    println(s"[pipeline] docs kept after exact dedup: " +
      TextOps.exactDedup(docs, "doc_id", "text").count())
    val emb = graft.Fixtures.src(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    val ivfPath = s"$base/ivf_index"
    val ivf = VectorOps.buildIvfIndex(
      emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", ivfPath, numCentroids = 8)
    println("[pipeline] ANN top-3 via partition-pruned IVF index:")
    VectorOps.ivfIndexTopK(ivf, qv, 3, nProbe = 2).show(false)

    // batch-query retrieval against the SAME persisted index (explicitly
    // pruned to the probed cells), then fold a fresh vector batch in with
    // the stored centroids — no retraining
    val knnQs = emb.filter(col("vec_id").between(1, 3))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val knnRows = VectorOps.knnJoinIvf(knnQs, "query_id", "qv", ivf, 3).count()
    VectorOps.appendToIvfIndex(ivf,
      emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", commitIdentifier = 0L, commitUser = "qs-ivf")
    println(s"[pipeline] knn join vs ivf index rows=$knnRows " +
      s"index rows after incremental append=${ivf.toDF.count()}")

    // scalar-quantized (SQ8) index: 8-bit codes + exact rerank must return
    // the same ids as the full-precision path on this corpus (same build
    // input + the deterministic centroid training → identical routing, so
    // any divergence would be a quantization-recall bug)
    val sq = VectorOps.buildIvfSqIndex(
      emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", s"$base/ivf_sq_index", numCentroids = 8)
    VectorOps.appendToIvfSqIndex(sq,
      emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val sqIds = VectorOps.knnJoinIvfSq(knnQs, "query_id", "qv", sq,
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", 3)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullIds = VectorOps.knnJoinIvf(knnQs, "query_id", "qv", ivf, 3)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[pipeline] sq8 index retrieval parity=${sqIds == fullIds} " +
      s"(${sqIds.size} pairs, quantized probe + exact rerank)")

    // product-quantized (PQ) index: m-byte codes + ADC table-lookup
    // scoring + exact rerank — the compression tier past SQ8. An 8-byte
    // sketch of a 64-dim NATURAL embedding cannot rank razor-thin
    // margins (that is what rerank depth buys back, see IvfPqSpec), so
    // the parity drive uses the planted-neighbor corpus whose margins
    // (0.999 vs 0.44) are the honest PQ use case — same fixture as q147
    val (pqQs, pqCorpus) = graft.Fixtures.knnRecallCorpus(spark, sfDir)
    val pq = VectorOps.buildIvfPqIndex(pqCorpus, "vec_id", "v",
      s"$base/ivf_pq_index", numCentroids = 8, m = 8, codes = 64)
    val pqFull = VectorOps.buildIvfIndex(pqCorpus, "vec_id", "v",
      s"$base/ivf_pq_full", numCentroids = 8)
    val pqIds = VectorOps.knnJoinIvfPq(pqQs, "query_id", "qv", pq,
        pqCorpus, "vec_id", "v", 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqWant = VectorOps.knnJoinIvf(pqQs, "query_id", "qv", pqFull, 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[pipeline] pq index retrieval parity=${pqIds == pqWant} " +
      s"(${pqIds.size} pairs, ADC probe + exact rerank)")

    // DSIR data selection: weight every doc by target-vs-raw hashed
    // n-gram log-likelihood ratio, then deterministic Gumbel top-k
    val dsirTarget = docs.filter(col("doc_id") % 10 === 0)
    val dsirKept = graft.pipeline.TextOps.dsirSample(
      graft.pipeline.TextOps.dsirWeights(docs, "doc_id", "text",
        dsirTarget, "text", numBuckets = 1024),
      "doc_id", "dsir_score", k = 50, seed = 7L).count()
    println(s"[pipeline] dsir selection kept=$dsirKept of ${docs.count()} " +
      "(LLR weights + gumbel top-k)")

    // streaming dedup-on-ingest, one batch: corpus + sig index maintained
    // exactly-once under commitIdentifier = batchId
    val sdCorpusDf = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    val sdCorpus = GraftTable.create(spark, s"$base/sd_corpus", sdCorpusDf.schema)
    sdCorpus.append(sdCorpusDf)
    val sdIndex = Dedup.buildSigIndex(sdCorpusDf, "doc_id", "text", s"$base/sd_index")
    val sdRes = graft.streaming.StreamingDedup.processBatch(
      docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
      0L, "doc_id", "text", sdCorpus, sdIndex)
    println(s"[pipeline] streaming dedup ingest: admitted=${sdRes.admitted}/" +
      s"${sdRes.input} (exact=${sdRes.droppedExact} intra=${sdRes.droppedIntra} " +
      s"corpus=${sdRes.droppedCorpus}) corpus rows=${sdCorpus.toDF.count()}")

    // ---- perceptual dedup: image dHash / audio energy / video voting ----
    {
      import graft.pipeline.Multimodal
      import spark.implicits._
      def png(seed: Long) = Multimodal.encodeBlockPng(90, 80, seed)
      val resized = Multimodal.resizeImages(
        Seq((0L, png(5))).toDF("id", "content"), "content", 45, 40)
        .select("content").collect()(0).getAs[Array[Byte]](0)
      val imgs = Seq((1L, png(5)), (2L, resized), (3L, png(6)))
        .toDF("id", "content")
      val imgPairs = Multimodal.dHashPairs(imgs, "id", "content").count()
      val wavs = Seq((1L, Multimodal.encodeSegmentWav(8000, 3L)), (3L,
        Multimodal.encodeSegmentWav(8000, 4L))).toDF("id", "content")
      val halves = Multimodal.scaleWavVolume(
        wavs.filter(col("id") === 1L).withColumn("id", lit(2L)),
        "content", 1, 2)
      val audPairs = Multimodal.audioFingerprintPairs(
        wavs.unionByName(halves), "id", "content").count()
      val vids = Seq(
        (1L, Seq(11L, 12L, 13L), 90, 80), (2L, Seq(11L, 12L, 13L), 45, 40),
        (3L, Seq(21L, 22L, 23L), 90, 80)).toDF("id", "seeds", "w", "h")
      val vidPairs = Multimodal.videoDHashPairs(
        Multimodal.renderBlockMjpegs(vids, "seeds", "w", "h")
          .select("id", "content"), "id", "content").count()
      println(s"[pipeline] perceptual dedup: image pairs=$imgPairs " +
        s"audio pairs=$audPairs video pairs=$vidPairs " +
        "(resized/gain-scaled/rescaled twins, byte-distinct)")
    }

    // ---- deletion-vector mode: merge-free PK reads ----
    val ords = graft.Fixtures.src(spark, sfDir, "orders")
    val dvT = GraftTable.create(spark, s"$base/orders_dv", ords.schema,
      primaryKeys = Seq("o_orderkey"),
      options = Map("deletion-vectors.enabled" -> "true"))
    dvT.upsert(ords)
    dvT.upsert(ords.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    dvT.delete(col("o_orderkey") % 13 === 0)
    val masked = dvT.store.liveFiles(dvT.store.latestSnapshot.get)
      .count(_.dvPath.isDefined)
    println(s"[dv] rows=${dvT.toDF.count()} masked-files=$masked (raw scan, no merge)")

    // ---- CDC-shaped ingestion (reference capability: paimon-flink-cdc
    // sync actions, re-expressed Spark-first): Kafka-style JSON values with
    // an op column stream into a PK table via rowkind.field; the lookup
    // changelog producer computes exact -U/+U images at write time. A real
    // deployment swaps readStream.format("kafka") for the memory source.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val sql = spark.sqlContext
      import spark.implicits._
      val cdc = MemoryStream[String]
      val q = cdc.toDF()
        .select(from_json(col("value"), org.apache.spark.sql.types.StructType
          .fromDDL("id BIGINT, name STRING, op STRING")).as("r"))
        .select("r.*")
        .writeStream.format("graft")
        .option("path", s"$base/cdc")
        .option("primary-keys", "id")
        .option("rowkind.field", "op")
        .option("changelog-producer", "lookup")
        .option("checkpointLocation", s"$base/cdc-ckpt")
        .trigger(Trigger.AvailableNow())
      cdc.addData(
        """{"id":1,"name":"ann","op":"+I"}""",
        """{"id":2,"name":"bob","op":"+I"}""",
        """{"id":2,"name":"bo","op":"+U"}""",
        """{"id":1,"name":"ann","op":"-D"}""")
      val run = q.start(); run.awaitTermination(60000)
      val cdcT = GraftTable.load(spark, s"$base/cdc")
      println(s"[cdc] applied state rows=${cdcT.toDF.count()} " +
        s"(kept=${cdcT.toDF.select("name").collect().map(_.getString(0)).mkString(",")})")
    }

    // ---- round-11: schema-EVOLVING CDC ingest job — the op column routes
    // row kinds and a column appearing MID-STREAM auto-adds to the table
    // in the same running query (graft.cdc.JsonCdcIngest) ----
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql = spark.sqlContext
      import spark.implicits._
      val frames = MemoryStream[String]
      val q2 = graft.cdc.JsonCdcIngest.start(spark, frames.toDF(),
        s"$base/cdc2", primaryKeys = Seq("id"),
        checkpoint = s"$base/cdc2-ckpt")
      try {
        frames.addData("""{"id":1,"name":"ann","op":"+I"}""",
          """{"id":2,"name":"bob","op":"+I"}""")
        q2.processAllAvailable()
        frames.addData( // `email` did not exist until this batch
          """{"id":2,"name":"bo","email":"b@x","op":"+U"}""",
          """{"id":1,"name":"ann","op":"-D"}""")
        q2.processAllAvailable()
      } finally q2.stop()
      val evolved = GraftTable.load(spark, s"$base/cdc2")
      println(s"[cdc] schema-evolving ingest: cols=" +
        evolved.schema.fields.map(_.name).mkString(",") +
        s" rows=${evolved.toDF.count()} " +
        s"(email added mid-stream, no restart)")
    }

    // ---- round-11: remote KV lookup service + remote lookup join ----
    {
      val srv = new graft.service.LookupServer(pkT).start()
      try {
        val one = graft.service.LookupClient.lookup(srv.endpoint,
          Map(pkT.schema.primaryKeys.head -> 8L))
        import spark.implicits._
        val probes = Seq(4L, 8L, 9999999L).toDF(pkT.schema.primaryKeys.head)
        val joined = graft.streaming.LookupJoin.remote(
          probes, srv.endpoint, pkT.schema.primaryKeys, pkT.toDF.schema)
        println(s"[service] remote lookup hit=${one.isDefined} " +
          s"join rows=${joined.count()} server jobs=${srv.jobsRun} " +
          "(batched bucket-pruned probes + key cache)")
      } finally srv.stop()
    }

    // ---- repeated-span + PII scrub pipeline ops ----
    println(s"[pipeline] repeated 8-token spans: " +
      TextOps.repeatedWindows(docs, "doc_id", "text", n = 8).count())

    // ---- round-15 training-prep: span removal, packing, epoch shuffle ----
    val spanRemoved = TextOps.removeRepeatedSpans(docs, "doc_id", "text", n = 8)
      .agg(sum(col("removed_tokens"))).collect()(0).getLong(0)
    val packed = TextOps.packedSequenceTexts(docs, "doc_id", "text", seqLen = 256)
    val nSeqs = packed.count()
    val fullSeqs = packed.filter(col("n_tokens") === 256).count()
    val shufHead = TextOps.deterministicShuffle(docs.select("doc_id"), "doc_id", 7L)
      .filter(col("shuffle_pos") < 3).orderBy("shuffle_pos")
      .collect().map(_.getLong(0)).mkString(",")
    println(s"[pipeline] span dedup removed=$spanRemoved tokens; " +
      s"packed 256-token sequences=$nSeqs (full=$fullSeqs); " +
      s"epoch shuffle head=$shufHead")
    println(s"[pipeline] docs with PII-pattern hits: " +
      docs.filter(TextOps.piiCounts(col("text")).map(_._2).reduce(_ + _) > 0).count())

    // ---- round-9 file-layout features: avro L0 over parquet base, and a
    // bucketed APPEND table (HASH_FIXED without a primary key) ----
    val plT = GraftTable.create(spark, s"$base/orders_pl", ords.schema,
      primaryKeys = Seq("o_orderkey"),
      options = Map("bucket" -> "2", "write-only" -> "true",
        "file.format.per.level" -> s"0:avro,${GraftTable.MaxLevel}:parquet"))
    plT.upsert(ords)
    plT.compact()
    plT.upsert(ords.limit(100))
    val plFmts = plT.store.liveFiles(plT.store.latestSnapshot.get)
      .map(_.path.split('.').last).distinct.sorted
    println(s"[formats] per-level live set=${plFmts.mkString("+")} " +
      s"rows=${plT.toDF.count()} (avro L0 merged over parquet base)")
    val abT = GraftTable.create(spark, s"$base/orders_ab", ords.schema,
      options = Map("bucket-key" -> "o_orderkey", "bucket" -> "4"))
    abT.append(ords)
    println(s"[formats] bucketed append: buckets=" +
      abT.store.liveFiles(abT.store.latestSnapshot.get).map(_.bucket).distinct.size +
      s" point-read rows=${abT.toDF.filter(col("o_orderkey") === 8).count()}")
    // ---- round-10: REAL multimodal decode kernels (JDK ImageIO +
    // JavaSound) over synthetic media with closed-form stats ----
    val media = spark.range(1, 6).select(
      col("id"),
      (lit(8) + col("id")).cast("int").as("w"),
      (lit(8) + col("id") * 2).cast("int").as("h"),
      (col("id") * 40).cast("int").as("gray"),
      (lit(800) + col("id") * 80).cast("int").as("frames"),
      (col("id") * 500).cast("int").as("amp"))
    val img = graft.pipeline.Multimodal.decodeImages(
      graft.pipeline.Multimodal.renderSolidPngs(media, "w", "h", "gray"), "content")
    val imgOk = img.filter(col("image_info.decoder") === "imageio" &&
      col("image_info.pixel_sum") ===
        col("w").cast("long") * col("h") * 3 * col("gray")).count()
    val wav = graft.pipeline.Multimodal.decodeAudios(
      graft.pipeline.Multimodal.renderSquareWavs(media.drop("content"),
        "frames", "amp"), "content")
    val wavOk = wav.filter(col("audio_info.decoder") === "javasound" &&
      col("audio_info.rms") === col("amp").cast("double")).count()
    println(s"[multimodal] png decode exact=$imgOk/5 wav decode exact=$wavOk/5 " +
      "(ImageIO pixel sums + JavaSound RMS, closed-form verified)")
    // ---- video routing pattern: sampleFrames flags every row with its
    // decoder provenance; at 100 TB, divert the stubbed opaque containers
    // (MP4/H.264 — no JDK codec) to an external decode service and keep
    // the REAL mjpeg frames in-engine ----
    val vids = spark.range(1, 4).select(col("id"),
      // id=1 gets an MJPEG payload (two real JPEGs), others opaque bytes
      when(col("id") === 1, lit(QuickStart.tinyMjpeg()))
        .otherwise(lit(Array.tabulate(2048)(i => (i % 97 + 3).toByte)))
        .as("content"))
    val sampled = graft.pipeline.Multimodal.sampleFrames(vids, "content", everyNth = 1)
    val real = sampled.filter(col("decoder") === "mjpeg")
    val toExternal = sampled.filter(col("decoder") === "stub-slice")
    println(s"[multimodal] video routing: in-engine mjpeg frames=${real.count()} " +
      s"routed-to-external stub rows=${toExternal.count()}")

    // ---- row-level ops on a PK table: Spark plans UPDATE/MERGE/
    // subquery-DELETE as WriteDelta; one LSM upsert commits ----
    spark.conf.set("spark.sql.catalog.graft_qs",
      classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_qs.warehouse", s"$base/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_qs.db")
    spark.sql("""CREATE TABLE graft_qs.db.rl (k BIGINT, v DOUBLE) USING graft
      |TBLPROPERTIES ('primary-key'='k','bucket'='2')""".stripMargin)
    spark.sql("INSERT INTO graft_qs.db.rl VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("UPDATE graft_qs.db.rl SET v = v * 10 WHERE k >= 2")
    spark.sql("DELETE FROM graft_qs.db.rl WHERE k IN " +
      "(SELECT k FROM graft_qs.db.rl WHERE v >= 30.0)") // subquery → WriteDelta
    val rlPlan = spark.sessionState.executePlan(spark.sessionState.sqlParser
      .parsePlan("UPDATE graft_qs.db.rl SET v = 0 WHERE k = 1")).analyzed.toString
    println(s"[sql] delta-protocol dml rows=${spark.table("graft_qs.db.rl").count()} " +
      s"writeDelta=${rlPlan.contains("WriteDelta")}")

    println("[done]")
    spark.stop()
  }
}
