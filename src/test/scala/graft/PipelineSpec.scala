package graft

import graft.pipeline.{Dedup, VectorOps}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("MinHashSignature expression matches the composed-builtin formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 50).map(i => (i.toLong,
      (0 to i % 17).map(j => s"tok${(i * 31 + j * 7) % 23}").mkString(" "))) :+
      (99L, "") // empty doc: no shingles
    val df = docs.toDF("id", "text")
    val hs = graft.pipeline.Dedup.shingleHashes(col("text"))
    val viaExpr = df.select(col("id"),
      graft.pipeline.Dedup.minhashSignature(
        graft.pipeline.Dedup.shingles(col("text"))).as("sig"))
    // the reference formulation: one array_min(transform) per slot
    def seed(s: Int): Long = graft.functions.MinHashSignature.seedConst(s)
    val viaBuiltins = df.select(col("id"), array((0 until 64).map(s =>
      array_min(transform(hs, h => xxhash64(h, lit(seed(s)))))): _*).as("sig"))
    val a = viaExpr.orderBy("id").collect().map(r => r.getSeq[Long](1))
    val b = viaBuiltins.orderBy("id").collect()
      .map(r => r.getSeq[Any](1).map {
        case null => Long.MaxValue // empty set: builtin yields null, expr MaxValue
        case l: Long => l
      })
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i: $x vs $y")
    }
  }
  import spark.implicits._

  test("lsh candidates: degenerate bucket (identical docs) yields the full quadratic pair set") {
    val clusterText = "the quick brown fox jumps over the lazy dog again and again today"
    val docs =
      (0 until 200).map(i => (i.toLong, clusterText)) ++
        (200 until 230).map(i => (i.toLong, s"totally unrelated document number $i about topic-$i with its own words-$i"))
    val df = docs.toDF("doc_id", "text")
    val cands = Dedup.lshCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the identical cluster yields ALL its pairs (the answer is inherently
    // quadratic); the bucket-local join distributes the expansion across
    // tasks instead of building one quadratic array row
    val clusterPairs = cands.count { case (a, b) => a < 200 && b < 200 }
    assert(clusterPairs == 200 * 199 / 2, s"got $clusterPairs")
    assert(cands.forall { case (a, b) => a < b })
    // verified near-dups agree
    val verified = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.99)
    assert(verified.count() == 200L * 199 / 2)
  }

  test("sig-agreement prefilter: digests match signatures; no true pair lost near t") {
    import org.apache.spark.sql.graft.SparkShims
    // expression parity: MinHashSigBytes = low byte of each slot,
    // ByteAgreement = positional equality count (eval + codegen path both
    // exercised via a real projection)
    val sigDf = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("id", "text")
      .select(col("id"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("text")), 64).as("sig"))
    val withSb = sigDf.select(col("id"), col("sig"),
      SparkShims.column(graft.functions.MinHashSigBytes(
        SparkShims.expr(col("sig")))).as("sb"))
    val rows = withSb.orderBy("id").collect()
    rows.foreach { r =>
      val sig = r.getSeq[Long](1)
      val sb = r.getAs[Array[Byte]](2)
      assert(sb.toSeq == sig.map(_.toByte), "digest = low byte per slot")
    }
    val agree = withSb.as("a").crossJoin(withSb.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(SparkShims.column(graft.functions.ByteAgreement(
        SparkShims.expr(col("a.sb")), SparkShims.expr(col("b.sb")))))
      .collect()(0).getInt(0)
    val expected = rows(0).getSeq[Long](1).zip(rows(1).getSeq[Long](1))
      .count { case (x, y) => x.toByte == y.toByte }
    assert(agree == expected, s"codegen'd agreement $agree vs $expected")

    // the prefilter must be INVISIBLE in results: verified pairs from the
    // prefiltered pipeline == exact-verifying the UNFILTERED candidate
    // set, on a corpus whose pair similarities straddle the threshold
    // (LSH's own banding recall is a separate, pre-existing property)
    val words = (0 until 60).map(i => s"w$i")
    val docs = (0 until 40).map(i => (i.toLong, words.slice(i, i + 15).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    def setOf(t: String): Set[String] = {
      val toks = t.split(" ")
      (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val byId = docs.toMap
    for (thr <- Seq(0.5, 0.7)) {
      val unfilteredVerified = Dedup.lshCandidatePairs(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) =>
          val (sa, sb) = (setOf(byId(a)), setOf(byId(b)))
          sa.intersect(sb).size.toDouble / sa.union(sb).size >= thr
        }.toSet
      val prefiltered = Dedup.nearDupPairs(df, "doc_id", "text", thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prefiltered == unfilteredVerified,
        s"threshold $thr: prefiltered ${prefiltered.size} vs unfiltered-verified ${unfilteredVerified.size}")
    }
  }

  test("prefix-filter jaccard join equals brute force (guaranteed recall)") {
    // overlapping word sequences: doc i shares a sliding window with i+1,
    // giving a spectrum of pairwise jaccards around any threshold
    val words = (0 until 40).map(i => s"w$i")
    val docs = (0 until 25).map { i =>
      (i.toLong, words.slice(i, i + 12).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def setOf(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      (0 to math.max(toks.length - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    for (thr <- Seq(0.3, 0.5, 0.8)) {
      val brute = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        sa = setOf(ta); sb = setOf(tb)
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= thr
      } yield (a, b)).toSet
      val got = Dedup.jaccardJoin(df, "doc_id", "text", thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"threshold $thr: got ${got.size}, brute ${brute.size}")
    }
  }

  test("jaccardJoin guardrail: replicated corpus fails fast, clean corpus stays silent") {
    // 300 copies of ONE document: every prefix token has frequency 300, so
    // the candidate estimate is prefix·C(300,2) ≈ quadratic — the guard
    // must fire BEFORE the join launches, pointing at nearDupPairs
    val replicated = (0L until 300L)
      .map(i => (i, "the same document body repeated verbatim many times"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardJoin(replicated, "doc_id", "text",
        maxCandidatePairs = 10000L)
    }
    assert(e.getMessage.contains("nearDupPairs"), e.getMessage)
    // a clean sliding-window corpus stays well under the default bound
    val words = (0 until 40).map(i => s"w$i")
    val clean = (0 until 25).map(i =>
      (i.toLong, words.slice(i, i + 12).mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.jaccardJoin(clean, "doc_id", "text").count() >= 0)
    // maxCandidatePairs = 0 disables the guard: the quadratic run is a
    // conscious choice and still returns correct pairs
    assert(Dedup.jaccardJoin(replicated.limit(20), "doc_id", "text",
      maxCandidatePairs = 0L).count() == 190L) // C(20,2) identical pairs
  }

  test("incremental cross-corpus dedup: batch vs persisted signature index") {
    // corpus: 20 docs on a sliding-window spectrum; new batch: near-copies
    // of corpus docs 3 and 11 (one word changed), one exact copy of 7, and
    // one unrelated doc
    val words = (0 until 60).map(i => s"w$i")
    val corpusDocs = (0 until 20).map(i =>
      ((i + 100).toLong, words.slice(2 * i, 2 * i + 14).mkString(" ")))
    val newDocs = Seq(
      (1L, words.slice(6, 20).updated(3, "CHANGED").mkString(" ")),   // ~ corpus 103
      (2L, words.slice(22, 36).updated(9, "ALTERED").mkString(" ")),  // ~ corpus 111
      (3L, words.slice(14, 28).mkString(" ")),                        // == corpus 107
      (4L, (200 until 214).map(i => s"z$i").mkString(" ")))           // unrelated
    val corpus = corpusDocs.toDF("doc_id", "text")
    val batch = newDocs.toDF("doc_id", "text")

    val index = Dedup.buildSigIndex(corpus, "doc_id", "text", tmpTable())
    val got = Dedup.nearDupPairsAgainst(batch, "doc_id", "text", index, corpus,
      threshold = 0.6)

    // brute-force cross oracle
    def setOf(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      (0 to math.max(toks.length - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val brute = (for {
      (n, tn) <- newDocs; (c, tc) <- corpusDocs
      sn = setOf(tn); sc = setOf(tc)
      j = sn.intersect(sc).size.toDouble / sn.union(sc).size
      if j >= 0.6
    } yield (n, c)).toSet
    assert(brute.nonEmpty && brute.exists(_._1 == 3L), s"fixture sanity: $brute")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == brute, s"got $gotPairs want $brute")

    // scale-shape proof the corpus is NOT re-signatured: rewrite corpus doc
    // 119's text to an exact copy of batch doc 4 AFTER the index build —
    // candidates come from the STORED signatures (119's stale sig cannot
    // band-collide with doc 4), so the pair must not appear, even though
    // its true Jaccard is now 1.0
    val poisoned = corpusDocs.map { case (id, t) =>
      if (id == 119L) (id, newDocs(3)._2) else (id, t)
    }.toDF("doc_id", "text")
    val viaIndex = Dedup.nearDupPairsAgainst(batch, "doc_id", "text", index,
      poisoned, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!viaIndex.contains((4L, 119L)),
      s"corpus signatures must come from the index, not recomputation: $viaIndex")

    // incremental maintenance: admit the batch, then a re-run of a batch
    // doc against the grown index finds it as an exact dup
    Dedup.appendToSigIndex(index, batch, "doc_id", "text")
    val again = Dedup.nearDupPairsAgainst(
      Seq((99L, newDocs(3)._2)).toDF("doc_id", "text"), "doc_id", "text",
      index, corpus.unionByName(batch), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == Set((99L, 4L)), s"upserted batch sig is live in the index: $again")
  }

  test("dup clustering: min-reachable label over chains and separate cliques") {
    // chain 10-11-...-16 (diameter 6, needs several propagation rounds),
    // clique 20-21-22, isolated pair 30-31
    val pairs = ((10L to 15L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L)))
      .toDF("id_a", "id_b")
    // each propagation iteration must be ONE Spark job (the convergence
    // count doubles as the checkpoint-materializing action); the 7-node
    // chain needs 7 iterations (6 to reach the far end + 1 to observe the
    // fixpoint), plus 2 setup checkpoints = 9 jobs before the collect
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      // broadcast-exchange futures show up as their own (driver-side,
      // tiny-data) jobs; only action jobs rooted in Dedup count — those
      // are what a second compare-join per iteration would add to
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.name.contains("Dedup.scala")))
          jobs.incrementAndGet()
    }
    // AQE runs every shuffle stage as its own job, hiding the count of
    // driver-side actions; with it off, one action = one job
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    val clustered = try {
      val c = Dedup.dupClusters(pairs)
      Thread.sleep(500) // listener bus is async; let job-start events drain
      c
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    assert(jobs.get <= 9, s"expected <=9 jobs (1 per iteration), saw ${jobs.get}")
    val got = clustered
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((10L to 16L).forall(got(_) == 10L), got.toString)
    assert((20L to 22L).forall(got(_) == 20L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got.size == 12)
  }

  test("simhash 5-block blocking finds exactly the brute-force hamming<=3 pairs") {
    // clusters of near-identical token sets (1-2 token edits) + unrelated docs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base), (1L, base + " extra"), (2L, base + " extra more"),
      (3L, base.replace("alpha", "alpha2")),
      (4L, "one two three four five six seven eight nine ten eleven twelve"),
      (5L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (6L, "completely different words about sailing ships and ocean storms tonight"),
      (7L, "completely different words about sailing ships and ocean storms tonight ahoy")
    ) ++ (8 until 40).map(i => (i.toLong, s"filler doc $i with unique content token-$i marker-$i item-$i"))
    val df = docs.toDF("doc_id", "text")
    val sk = df.select(col("doc_id").as("id"),
      Dedup.simhashFromHashes(Dedup.tokenHashesMd5(col("text"))).as("sk"))
    val brute = sk.as("a").join(sk.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        Dedup.hamming(col("a.sk"), col("b.sk")).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3, md5Basis = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=$blocked brute=$brute")
    assert(brute.nonEmpty, "fixture should contain at least one hamming<=3 pair")
  }

  test("vector lsh buckets are deterministic and prune the candidate set") {
    val n = 100
    val dim = 16
    // deterministic synthetic vectors: cluster A around e1, cluster B around -e1
    def vec(i: Int): Seq[Float] = {
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (0 until dim).map(d => if (d == 0) sign else ((i * 31 + d * 7) % 11 - 5) / 50.0f)
    }
    val df = (0 until n).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val planes = VectorOps.planeComponents(6, dim)
    val b1 = df.select(col("id"), VectorOps.lshBucket(col("v"), planes).as("b")).collect()
    val b2 = df.select(col("id"), VectorOps.lshBucket(col("v"), planes).as("b")).collect()
    assert(b1.sameElements(b2))
    assert(b1.map(_.getLong(1)).distinct.length > 1, "vectors should spread over buckets")
  }

  test("banded multi-table LSH top-k equals brute force on a separable fixture") {
    val dim = 16
    // 25 near-copies of a base direction (true top-k) + 200 scattered vectors
    def noise(i: Int, d: Int): Float = ((i * 31 + d * 7) % 11 - 5) / 100.0f
    val base = (0 until dim).map(d => if (d == 0) 1.0f else 0.1f * d / dim)
    val cluster = (0 until 25).map(i =>
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.05f * noise(i, d) }))
    val scattered = (100 until 300).map(i =>
      (i.toLong, (0 until dim).map(d => noise(i * 13, d * 3 + 1) * 10)))
    val df = (cluster ++ scattered).toDF("id", "v")
    val q = base.map(_.toDouble)
    val exact = VectorOps.cosineTopK(df, "id", "v", q, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val lsh = VectorOps.cosineTopKLsh(df, "id", "v", q, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(lsh == exact, "banded LSH must recover the full separable top-k")
    assert(exact.map(_._1).toSet == cluster.map(_._1).toSet)
  }

  test("knn join: per-query top-k equals brute force on separable groups; no all-pairs join") {
    // 5 groups of 8 vectors in 8 dims: group members are near-copies of a
    // one-hot base (cos ≈ 0.999 in-group, ≈ 0.05 cross-group), so each
    // query's true top-3 is in-group and the LSH join must recover it
    val dim = 8
    def vec(g: Int, j: Int): Seq[Double] =
      (0 until dim).map(d =>
        (if (d == g) 1.0 else 0.0) + 0.03 * math.sin(1.0 + g * 17 + j * 3 + d))
    val corpusRows = for (g <- 0 until 5; j <- 0 until 8)
      yield ((g * 100 + j).toLong, vec(g, j))
    val queryRows = Seq(0, 2, 4).map(g => (g.toLong, vec(g, 99)))
    val corpus = corpusRows.toDF("vec_id", "v")
    val queries = queryRows.toDF("query_id", "qv")

    val got = VectorOps.knnJoin(queries, "query_id", "qv", corpus, "vec_id", "v",
      k = 3, numTables = 8, planesPerTable = 4, dim = dim)

    // no all-pairs shapes anywhere in the physical plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn join must stay bucket-local:\n$plan")

    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (n == 0) 0.0 else d / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = queryRows.flatMap { case (qid, qv) =>
      corpusRows.map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(3)
        .zipWithIndex.map { case ((q, c, s), i) => (q, c, s, (i + 1).toLong) }
    }.toSet
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(gotRows == brute, s"got $gotRows\nwant $brute")
  }

  test("knn join vs persisted IVF index: per-query top-k exact on separable groups") {
    // same 5-group fixture as the LSH knn join; the index partitions the
    // corpus by coarse cell and each query probes its nearest cells
    val dim = 8
    def vec(g: Int, j: Int): Seq[Double] =
      (0 until dim).map(d =>
        (if (d == g) 1.0 else 0.0) + 0.03 * math.sin(1.0 + g * 17 + j * 3 + d))
    val corpusRows = for (g <- 0 until 5; j <- 0 until 8)
      yield ((g * 100 + j).toLong, vec(g, j))
    val queryRows = Seq(0, 2, 4).map(g => (g.toLong, vec(g, 99)))
    val corpus = corpusRows.toDF("vec_id", "v")
    val queries = queryRows.toDF("query_id", "qv")
    val index = VectorOps.buildIvfIndex(corpus, "vec_id", "v", tmpTable(),
      numCentroids = 5)

    val got = VectorOps.knnJoinIvf(queries, "query_id", "qv", index, k = 3,
      nProbe = 2)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (n == 0) 0.0 else d / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = queryRows.flatMap { case (qid, qv) =>
      corpusRows.map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(3)
        .zipWithIndex.map { case ((q, c, s), i) => (q, c, s, (i + 1).toLong) }
    }.toSet
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(gotRows == brute, s"got $gotRows\nwant $brute")
    val plan = got.queryExecution.executedPlan.toString
    // the index scan must carry a STATIC partition IN-filter of the probed
    // cells — without it the whole 100-TB index is scanned regardless of
    // probes (dynamic pruning does NOT fire here: the probe side has no
    // selective predicate)
    assert("GraftScan[^\n]*filters=[^\n]*In\\(ivf_cluster, \\[".r
      .findFirstIn(plan).isDefined,
      s"index scan must be pruned to the probed cells:\n$plan")
    // the rank filter must become a map-side per-query group limit — at
    // scale this caps the window shuffle at k rows per query per task
    assert(plan.contains("WindowGroupLimit"), s"rank<=k must push as WindowGroupLimit:\n$plan")
  }

  test("property: knnJoinIvf with nProbe=C equals exact brute force on random vectors") {
    // with every cell probed, IVF recall is total by construction — the
    // result must match per-query exact top-k on ARBITRARY (non-separable)
    // data: catches probe-selection, pruning, ranking and tie-break bugs
    val rnd = new scala.util.Random(42)
    val dim = 6
    val corpusRows = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val queryRows = (0 until 10).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val (initial, extra) = corpusRows.partition { case (id, _) => id % 3 != 0 }
    val index = VectorOps.buildIvfIndex(initial.toDF("vec_id", "v"),
      "vec_id", "v", tmpTable(), numCentroids = 7)
    VectorOps.appendToIvfIndex(index, extra.toDF("vec_id", "v"), "vec_id", "v")
    val k = 5
    val got = VectorOps.knnJoinIvf(queryRows.toDF("query_id", "qv"),
      "query_id", "qv", index, k, nProbe = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (n == 0) 0.0 else d / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = queryRows.flatMap { case (qid, qv) =>
      corpusRows.map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(k)
        .zipWithIndex.map { case ((q, c, s), i) => (q, c, s, (i + 1).toLong) }
    }.toSet
    assert(got == want, s"diff=${(got diff want) ++ (want diff got)}")
  }

  test("embedNearDupAgainst: finds threshold pairs vs the index, excludes self-ids") {
    val dim = 8
    def vec(g: Int, j: Int): Seq[Double] =
      (0 until dim).map(d =>
        (if (d == g) 1.0 else 0.0) + 0.01 * math.sin(1.0 + g * 17 + j * 3 + d))
    // corpus: 4 tight groups of 5; batch: one near-dup of group 2, one
    // orthogonal new vector, and a RE-INGEST of corpus id 100 (self)
    val corpusRows = for (g <- 0 until 4; j <- 0 until 5)
      yield ((g * 100 + j).toLong, vec(g, j))
    val index = VectorOps.buildIvfIndex(corpusRows.toDF("vec_id", "v"),
      "vec_id", "v", tmpTable(), numCentroids = 4)
    val batch = Seq(
      (900L, vec(2, 77)),                                // near-dups group 2
      (901L, (0 until dim).map(d => if (d == 7) -1.0 else 0.0)), // novel
      (100L, vec(1, 0))).toDF("vec_id", "v")             // re-ingest of id 100
    val got = VectorOps.embedNearDupAgainst(batch, "vec_id", "v", index,
      threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 900 pairs with all of group 2; 901 pairs with nothing; 100 pairs
    // with the REST of group 1 but not itself
    assert(got.filter(_._1 == 900L).map(_._2) == (0 until 5).map(j => 200L + j).toSet, got.toString)
    assert(!got.exists(_._1 == 901L), got.toString)
    assert(got.filter(_._1 == 100L).map(_._2) == Set(101L, 102L, 103L, 104L), got.toString)
  }

  test("rebuildLshSidecar upgrades a pre-sidecar index to the bucket-local path") {
    val dim = 8
    def vec(g: Int, j: Int): Seq[Double] =
      (0 until dim).map(d =>
        (if (d == g) 1.0 else 0.0) + 0.01 * math.sin(1.0 + g * 17 + j * 3 + d))
    val corpusRows = for (g <- 0 until 4; j <- 0 until 5)
      yield ((g * 100 + j).toLong, vec(g, j))
    val path = tmpTable()
    // old-format fixture: no sidecar column, tables=0 → full-cell scoring
    val index = VectorOps.buildIvfIndex(corpusRows.toDF("vec_id", "v"),
      "vec_id", "v", path, numCentroids = 4, lshSidecar = false)
    assert(index.schema.option("ivf.lsh.tables", "-1") == "0")
    assert(!index.schema.fields.exists(_.name == "lsh_buckets"))
    val batch = Seq(
      (900L, vec(2, 77)),
      (901L, (0 until dim).map(d => if (d == 7) -1.0 else 0.0))).toDF("vec_id", "v")
    def pairs() = VectorOps.embedNearDupAgainst(batch, "vec_id", "v", index,
      threshold = 0.95).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs() // full-cell fallback path
    assert(before.nonEmpty)

    // the in-place upgrade, through the SQL procedure
    val msg = spark.sql(s"CALL sys.rebuild_lsh_sidecar('$path')")
      .collect()(0).getString(0)
    assert(msg.contains("rebuilt lsh sidecar"), msg)
    val upgraded = graft.table.GraftTable.load(spark, path)
    assert(upgraded.schema.option("ivf.lsh.tables", "0").toInt > 0)
    // every row carries a bucket array of the installed family size
    val t = upgraded.schema.option("ivf.lsh.tables", "0").toInt
    assert(upgraded.toDF.filter(size(col("lsh_buckets")) =!= t).count() == 0)
    // bucket-local candidates give the SAME verified pairs (tight groups
    // share every sign bucket; exact-cosine verify is unchanged)
    val after = VectorOps.embedNearDupAgainst(batch, "vec_id", "v", upgraded,
      threshold = 0.95).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, s"before=$before after=$after")

    // appends after the upgrade band compatibly: a new colinear vector is
    // caught through its sidecar buckets
    VectorOps.appendToIvfIndex(upgraded, Seq((950L, vec(2, 33)))
      .toDF("vec_id", "v"), "vec_id", "v")
    val again = VectorOps.embedNearDupAgainst(batch, "vec_id", "v", upgraded,
      threshold = 0.95).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again.contains((900L, 950L)), again.toString)
  }

  test("knnJoinIvf clamps nProbe past the cell count (tiny index, default nProbe)") {
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.9, 0.1))).toDF("vec_id", "v")
    val index = VectorOps.buildIvfIndex(corpus, "vec_id", "v", tmpTable(),
      numCentroids = 2)
    val got = VectorOps.knnJoinIvf( // default nProbe=4 > cells — must probe all
      Seq((7L, Seq(1.0, 0.05))).toDF("query_id", "qv"), "query_id", "qv",
      index, k = 3)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L), got.toString) // full recall, no slice error
  }

  test("appendToIvfIndex routes new vectors to the build's cells; replay is exactly-once") {
    val dim = 8
    def vec(g: Int, j: Int): Seq[Double] =
      (0 until dim).map(d =>
        (if (d == g) 1.0 else 0.0) + 0.03 * math.sin(1.0 + g * 17 + j * 3 + d))
    val all = for (g <- 0 until 4; j <- 0 until 6)
      yield ((g * 100 + j).toLong, vec(g, j))
    val (initial, extra) = all.partition { case (id, _) => id % 2 == 0 }
    val index = VectorOps.buildIvfIndex(initial.toDF("vec_id", "v"),
      "vec_id", "v", tmpTable(), numCentroids = 4)
    VectorOps.appendToIvfIndex(index, extra.toDF("vec_id", "v"), "vec_id", "v",
      commitIdentifier = 0L, commitUser = "ivf-ingest")
    // appended rows landed in the SAME cell the build assignment gives:
    // rebuilding the assignment from the stored centroids matches the
    // partition value of every row, built or appended
    assert(index.toDF.select("vec_id").collect().map(_.getLong(0)).toSet ==
      all.map(_._1).toSet)
    val cents: Seq[Seq[Double]] = index.schema.option("ivf.centroids", "")
      .split(';').toSeq.map(_.split(',').toSeq.map(_.toDouble))
    val mismatched = index.toDF.filter(col("ivf_cluster") =!=
      VectorOps.ivfAssign(col("v").cast("array<double>"), cents)).count()
    assert(mismatched == 0)
    // replayed batch is filtered, not duplicated
    VectorOps.appendToIvfIndex(index, extra.toDF("vec_id", "v"), "vec_id", "v",
      commitIdentifier = 0L, commitUser = "ivf-ingest")
    assert(index.toDF.count() == all.size)
  }

  test("IVF top-k equals brute force on a separable fixture; probes prune the scan") {
    val dim = 16
    def noise(i: Int, d: Int): Float = ((i * 31 + d * 7) % 11 - 5) / 100.0f
    val base = (0 until dim).map(d => if (d == 0) 1.0f else 0.1f * d / dim)
    val cluster = (0 until 25).map(i =>
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.05f * noise(i, d) }))
    val scattered = (100 until 300).map(i =>
      (i.toLong, (0 until dim).map(d => noise(i * 13, d * 3 + 1) * 10)))
    val df = (cluster ++ scattered).toDF("id", "v")
    val q = base.map(_.toDouble)
    val exact = VectorOps.cosineTopK(df, "id", "v", q, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = VectorOps.cosineTopKIvf(df, "id", "v", q, 25,
        numCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == exact, "IVF probes must recover the full separable top-k")
    // the coarse quantizer actually partitions: >1 cell in use and a probe
    // subset selects strictly fewer rows than the corpus
    val cents = VectorOps.ivfCentroids(df, "id", "v", 8)
    val cells = df.select(VectorOps.ivfAssign(col("v").cast("array<double>"), cents))
      .distinct().count()
    assert(cells > 1, "corpus should spread over centroid cells")
  }

  test("persisted IVF index: partition-pruned probes recover the exact top-k") {
    val dim = 16
    def noise(i: Int, d: Int): Float = ((i * 31 + d * 7) % 11 - 5) / 100.0f
    val base = (0 until dim).map(d => if (d == 0) 1.0f else 0.1f * d / dim)
    val cluster = (0 until 25).map(i =>
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.05f * noise(i, d) }))
    val scattered = (100 until 300).map(i =>
      (i.toLong, (0 until dim).map(d => noise(i * 13, d * 3 + 1) * 10)))
    val df = (cluster ++ scattered).toDF("id", "v")
    val q = base.map(_.toDouble)

    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val idx = VectorOps.buildIvfIndex(df, "id", "v", path, numCentroids = 8)
    // the index is a real partitioned graft table: several cluster cells
    val parts = idx.system("partitions").collect()
    assert(parts.length > 1, s"expected several cells, got ${parts.length}")
    // a probe reads a strict subset of the partitions (partition pruning)
    val exact = VectorOps.cosineTopK(df, "id", "v", q, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = VectorOps.ivfIndexTopK(idx, q, 25, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == exact, "index probes must recover the separable top-k")
    // the probe filter is pushed into the scan — pruned at planning time
    // by GraftScan, not filtered row-by-row
    val probed = idx.toDF.filter(col("ivf_cluster") === 0)
    val scanPlan = probed.queryExecution.executedPlan.toString
    assert(scanPlan.contains("GraftScan") && scanPlan.contains("ivf_cluster"),
      s"expected a partition-pruned scan, got:\n$scanPlan")
    val (skipped, read) = scanFileCounts(probed)
    assert(skipped >= 1 && read >= 1, s"skipped=$skipped read=$read")
  }

  test("empty inputs: dedup, jaccard join, clustering, and split bucket degrade to empty") {
    import org.apache.spark.sql.types._
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardJoin(emptyDocs, "doc_id", "text").count() == 0)
    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    assert(Dedup.dupClusters(emptyPairs).count() == 0)
    val one = Seq((5L, "only doc here")).toDF("doc_id", "text")
    assert(Dedup.nearDupPairs(one, "doc_id", "text").count() == 0)
    val b = one.select(graft.pipeline.TextOps.splitBucket(col("doc_id"), 10).as("b"))
      .collect()(0).getInt(0)
    assert(b >= 0 && b < 10)
  }

  test("LSH fails loudly on a wrong-dimension vector instead of bucketing to 0") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(1.0f, 2.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      VectorOps.cosineTopKLsh(df, "id", "v", Seq(1.0, 0.0, 0.0), 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("expected 3-dim vector")), msgs(ex).mkString("; "))
  }

  test("hll sketch: accuracy at 100k distinct, merge of halves == sketch of whole") {
    import graft.functions.Sketches
    val whole = Sketches.hllEmpty()
    val h1 = Sketches.hllEmpty()
    val h2 = Sketches.hllEmpty()
    (0 until 100000).foreach { i =>
      Sketches.hllAdd(whole, i.toLong)
      Sketches.hllAdd(if (i % 2 == 0) h1 else h2, i.toLong)
    }
    val est = Sketches.hllEstimate(whole)
    assert(math.abs(est - 100000) / 100000.0 < 0.03, s"hll estimate $est")
    // union is register-max: merging disjoint halves reproduces the whole
    assert(java.util.Arrays.equals(Sketches.hllMerge(h1, h2), whole))
    // idempotent: re-merging changes nothing
    assert(java.util.Arrays.equals(Sketches.hllMerge(whole, whole), whole))
  }

  test("theta sketch: exact below k, within 5% at 100k distinct") {
    import graft.functions.{Sketches, ThetaFromLongsAgg}
    var small = Array.emptyLongArray
    var big = Array.emptyLongArray
    (0 until 100000).foreach { i =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 99L)
      if (i < 500) small = Sketches.thetaMergeHashes(small, Array(h))
      big = Sketches.thetaMergeHashes(big, Array(h))
    }
    assert(Sketches.thetaEstimate(Sketches.thetaSerialize(small)) == 500.0)
    val est = Sketches.thetaEstimate(Sketches.thetaSerialize(big))
    assert(math.abs(est - 100000) / 100000.0 < 0.05, s"theta estimate $est")
    assert(ThetaFromLongsAgg.finish(big).length == 8 + 1024 * 8)
  }

  test("sketch aggregation table: estimates stable across compaction (row vs DF merge path)") {
    import graft.functions.Sketches
    val vals = (1 to 3000).map(i => ((i % 7).toLong, i.toLong)).toDF("k", "v")
    def batch(parity: Int) = vals.filter(col("v") % 2 === parity).groupBy("k")
      .agg(graft.functions.HllFromLongsAgg.fromLongs(col("v")).as("hll"),
        graft.functions.ThetaFromLongsAgg.fromLongs(col("v")).as("theta"))
    val path = java.nio.file.Files.createTempDirectory("graft-sketch").toString + "/t"
    val t = graft.table.GraftTable.create(spark, path, batch(0).schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "aggregation",
        "fields.hll.aggregate-function" -> "hll_sketch",
        "fields.theta.aggregate-function" -> "theta_sketch"))
    t.upsert(batch(0))
    t.upsert(batch(1))
    def read(): Map[Long, (Double, Double)] =
      t.toDF.collect().map(r => r.getLong(0) ->
        (Sketches.hllEstimate(r.getAs[Array[Byte]](1)),
          Sketches.thetaEstimate(r.getAs[Array[Byte]](2)))).toMap
    val merged = read()
    t.compact()
    val compacted = read()
    assert(merged == compacted, "compaction changed sketch estimates")
    // k=0..6 each see ~428 distinct v (< theta k): theta is exact
    val exact = (1 to 3000).groupBy(i => (i % 7).toLong).view.mapValues(_.size).toMap
    exact.foreach { case (k, n) =>
      assert(compacted(k)._2 == n.toDouble, s"theta k=$k")
      assert(math.abs(compacted(k)._1 - n) / n.toDouble < 0.05, s"hll k=$k")
    }
  }

  test("line dedup: boilerplate cut everywhere, order kept, all-boilerplate doc -> empty") {
    import graft.pipeline.TextOps
    val docs = Seq(
      (1L, "HEADER\nalpha beta\ngamma\nFOOTER"),
      (2L, "header\ndelta\nFOOTER"), // normalized match: HEADER vs header
      (3L, "HEADER\nFOOTER"),        // nothing unique survives
      (4L, "epsilon\nzeta")          // no boilerplate at all
    ).toDF("id", "text")
    val out = TextOps.dedupLines(docs, "id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha beta\ngamma")
    assert(out(2L) == "delta")
    assert(out(3L) == "")
    assert(out(4L) == "epsilon\nzeta")
  }

  test("bm25: term-bearing docs outrank term-free docs; shorter doc outranks longer") {
    import graft.pipeline.TextOps
    val docs = Seq(
      (1L, "spark engine"),                      // short, has term
      (2L, "spark engine running on a cluster of machines"), // longer, has term
      (3L, "completely unrelated words here")    // no term
    ).toDF("id", "text")
    val s = TextOps.bm25Scores(docs, "id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(3L) == 0.0)
    assert(s(1L) > s(2L) && s(2L) > 0.0, s"scores: $s")
  }

  test("stratifiedSample: per-stratum rates, monotone refresh, determinism") {
    import graft.pipeline.TextOps
    import spark.implicits._
    val docs = (1L to 2000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh"))
      .toDF("id", "lang")
    def ids(rates: Map[String, Double]) =
      TextOps.stratifiedSample(docs, "id", "lang", rates)
        .select("id").collect().map(_.getLong(0)).toSet
    val a = ids(Map("en" -> 0.5, "de" -> 0.2))
    // rates roughly respected (md5 uniformity at n≈667/stratum: ±10%)
    val en = a.count(_ % 3 == 0)
    assert(math.abs(en - 333) < 67, s"en kept $en of 667 at rate 0.5")
    assert(!a.exists(_ % 3 == 2), "zh has default rate 0") // zh dropped
    // monotone refresh: raising a rate only ADDS documents
    val b = ids(Map("en" -> 0.8, "de" -> 0.2))
    assert(a.subsetOf(b), "raising en's rate must not swap kept documents")
    // deterministic: same rates → identical set
    assert(ids(Map("en" -> 0.5, "de" -> 0.2)) == a)
  }

  test("keepBestPerCluster keeps the highest-scored copy, not the smallest id") {
    import graft.pipeline.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, 0.25), (2L, 0.75), (3L, 0.75), // cluster {1,2,3}: 2 wins (tie 2<3)
      (4L, 0.5),                          // singleton: survives
      (5L, 1.0), (6L, 0.0)                // cluster {5,6}: 5 wins
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, "id", col("score"), pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L), kept.toString)
  }

  test("repetitionStats: clean doc near zero, degenerate repeats near one") {
    import graft.pipeline.TextOps
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // all distinct
      (2L, Seq.fill(10)("spam ham").mkString(" ")),          // one repeated bigram*
      (3L, "x\nx\nx\ny"),                                    // 4 lines, 2 distinct
      (4L, "solo")                                           // no bigrams/trigrams
    ).toDF("id", "text")
    val m = TextOps.repetitionStats(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (l1, w1, b1, t1) = m(1L)
    assert(l1 == 0.0 && w1 == 0.0 && t1 == 0.0, m(1L).toString)
    assert(b1 == math.rint(2.0 / 8 * 1e6) / 1e6, m(1L).toString) // every bigram unique: 2/n
    val (_, w2, b2, t2) = m(2L)
    // 20 tokens alternating spam/ham: 18 dup words, "spam ham" bigram 10x
    assert(w2 == 0.9 && b2 == 1.0 && t2 == 1.0, m(2L).toString)
    assert(m(3L)._1 == 0.5, m(3L).toString) // (4-2)/4 lines
    assert(m(4L) == ((0.0, 0.0, 0.0, 0.0)), m(4L).toString)
  }

  test("chunkTokens: overlap windows, exact boundaries, short docs, validation") {
    import graft.pipeline.TextOps
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, mk(10)),   // <= size: one chunk of itself
      (2L, mk(12)),   // size exactly: one chunk
      (3L, mk(13)),   // one token past: two chunks, second is the tail
      (4L, mk(28))    // 12,12,12 windows at step 8: starts 0,8,16
    ).toDF("id", "text")
    val out = TextOps.chunkTokens(docs, "id", "text", size = 12, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.count(_._1 == 1L) == 1 && out.find(_._1 == 1L).get._3 == mk(10))
    assert(out.count(_._1 == 2L) == 1 && out.find(_._1 == 2L).get._4 == 12)
    val d3 = out.filter(_._1 == 3L)
    assert(d3.length == 2 && d3(1)._3 == (9 to 13).map(i => s"t$i").mkString(" "), d3.toSeq.toString)
    val d4 = out.filter(_._1 == 4L)
    assert(d4.length == 3 && d4.forall(_._4 == 12), d4.toSeq.toString)
    assert(d4(1)._3.startsWith("t9 ") && d4(2)._3.startsWith("t17 "), d4.toSeq.toString)
    // every token of every doc is covered by at least one chunk
    val covered = d4.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 28).map(i => s"t$i").toSet)
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(docs, "id", "text", size = 8, overlap = 8)
    }
  }
}
