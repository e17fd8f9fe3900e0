package graft

import graft.pipeline.Dedup
import graft.streaming.StreamingDedup
import graft.table.GraftTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

class StreamingDedupSpec extends SparkSpec {

  import spark.implicits._

  /** 40 distinct words seeded by `g` — near-dups perturb one word. */
  private def text(g: Int, perturb: Int = -1): String =
    (0 until 40).map(w =>
      if (w == perturb) s"CHANGED${g}x$w" else s"w${g}word$w").mkString(" ")

  private def mkCorpusAndIndex(): (GraftTable, GraftTable) = {
    val corpusDf = Seq(
      (1L, text(1)), (2L, text(2)), (3L, text(3))).toDF("doc_id", "body")
    val corpus = GraftTable.create(spark, tmpTable(), corpusDf.schema)
    corpus.append(corpusDf)
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    (corpus, index)
  }

  private def corpusIds(corpus: GraftTable): Seq[Long] =
    corpus.toDF.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("processBatch: exact, intra-batch and vs-corpus dedup; index keeps up") {
    val (corpus, index) = mkCorpusAndIndex()

    // 101 unique; 102 exact text dup of 101 (exact drop, larger id);
    // 103 near-dup of CORPUS doc 1 (corpus drop); 104 near-dup of 101
    // (intra drop, larger id); 105 unique
    val b1 = Seq(
      (101L, text(10)), (102L, text(10)), (103L, text(1, perturb = 5)),
      (104L, text(10, perturb = 7)), (105L, text(11))).toDF("doc_id", "body")
    val r1 = StreamingDedup.processBatch(b1, 0L, "doc_id", "body",
      corpus, index)
    assert(r1 == StreamingDedup.BatchResult(0L, input = 5, admitted = 2,
      droppedExact = 1, droppedIntra = 1, droppedCorpus = 1), r1.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 101L, 105L))
    assert(index.toDF.count() == 5)

    // batch 2: 106 near-dups 101 — admitted LAST batch, so it must be
    // caught through the UPDATED index; 107 unique
    val b2 = Seq(
      (106L, text(10, perturb = 3)), (107L, text(12))).toDF("doc_id", "body")
    val r2 = StreamingDedup.processBatch(b2, 1L, "doc_id", "body",
      corpus, index)
    assert(r2 == StreamingDedup.BatchResult(1L, input = 2, admitted = 1,
      droppedExact = 0, droppedIntra = 0, droppedCorpus = 1), r2.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 101L, 105L, 107L))
    assert(index.toDF.count() == 6)
  }

  /** A batch signed at numHashes=32, for consumers banding at 64. */
  private def signedAt32(batch: org.apache.spark.sql.DataFrame) = {
    val index32 = Dedup.buildSigIndex(batch, "doc_id", "body", tmpTable(), numHashes = 32)
    val pair = Dedup.sigFrameFor(index32, batch, "doc_id", "body")
    assert(pair._2 == 32)
    pair
  }

  test("appendToSigIndex refuses signatures of another family") {
    val (_, index) = mkCorpusAndIndex()
    val batch = Seq((101L, text(10))).toDF("doc_id", "body")
    val e = intercept[IllegalArgumentException](Dedup.appendToSigIndex(
      index, batch, "doc_id", "body", precomputedSigs = Some(signedAt32(batch))))
    assert(e.getMessage.contains("numHashes=32"), e.getMessage)
    assert(index.toDF.count() == 3) // nothing committed
  }

  test("nearDupPairs refuses signatures of another family") {
    val batch = Seq((101L, text(10)), (102L, text(10, perturb = 3))).toDF("doc_id", "body")
    val e = intercept[IllegalArgumentException](Dedup.nearDupPairs(
      batch, "doc_id", "body", precomputedSigs = Some(signedAt32(batch))))
    assert(e.getMessage.contains("numHashes=32"), e.getMessage)
  }

  test("nearDupPairsAgainst refuses signatures of another family") {
    val (corpus, index) = mkCorpusAndIndex()
    val batch = Seq((103L, text(1, perturb = 5))).toDF("doc_id", "body")
    val e = intercept[IllegalArgumentException](Dedup.nearDupPairsAgainst(
      batch, "doc_id", "body", index, corpus.toDF,
      precomputedSigs = Some(signedAt32(batch))))
    assert(e.getMessage.contains("numHashes=32"), e.getMessage)
  }

  test("re-ingest of an existing corpus id is dropped, not duplicated") {
    val (corpus, index) = mkCorpusAndIndex()
    // doc 1 is ALREADY in the corpus (a re-crawl): same-id pairs are
    // excluded from near-dup, so only the explicit re-ingest check can
    // stop it from appending a duplicate row while the index upsert
    // replaces the signature — corpus and index diverging
    val b = Seq((1L, text(1)), (601L, text(60))).toDF("doc_id", "body")
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index)
    assert(r.droppedReingest == 1 && r.admitted == 1, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 601L)) // 1 NOT duplicated
    assert(index.toDF.count() == 4)
  }

  /** 64-dim deterministic pseudo-random unit-scale vector seeded by `g`;
    * independent seeds land near-orthogonal (|cos| ≲ 0.4 ≪ 0.95), while
    * `scale`d copies of one seed are exactly colinear (cos = 1.0).
    */
  private def vec(g: Int, scale: Double = 1.0): Array[Double] = {
    val rnd = new scala.util.Random(g)
    Array.fill(64)((rnd.nextDouble() - 0.5) * scale)
  }

  test("semantic stage: embedding near-dups drop intra-batch and vs corpus") {
    val corpusDf = Seq(
      (1L, text(1), vec(1)), (2L, text(2), vec(2)), (3L, text(3), vec(3)))
      .toDF("doc_id", "body", "v")
    val corpus = GraftTable.create(spark, tmpTable(),
      corpusDf.select("doc_id", "body").schema)
    corpus.append(corpusDf.select("doc_id", "body"))
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    val ivf = graft.pipeline.VectorOps.buildIvfIndex(
      corpusDf.select("doc_id", "v"), "doc_id", "v", tmpTable(),
      numCentroids = 2)

    // 701: DIFFERENT text but vector colinear with corpus doc 2 — only the
    // semantic vs-corpus check can catch it; 702/703: distinct texts,
    // colinear vectors (intra pair — larger id 703 drops); 704 clean
    val b = Seq(
      (701L, text(70), vec(2, scale = 1.01)),
      (702L, text(71), vec(7)), (703L, text(72), vec(7, scale = 1.02)),
      (704L, text(73), vec(8))).toDF("doc_id", "body", "v")
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r.droppedEmbedIntra == 1 && r.droppedEmbedCorpus == 1 &&
      r.admitted == 2, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 702L, 704L))
    // all three tables advanced together: sig index and IVF index carry
    // exactly the admitted ids
    assert(index.toDF.count() == 5)
    assert(ivf.toDF.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 702L, 704L))

    // batch 2: 705 colinear with 702 — admitted LAST batch, so it must be
    // caught through the UPDATED IVF index
    val b2 = Seq((705L, text(74), vec(7, scale = 0.99))).toDF("doc_id", "body", "v")
    val r2 = StreamingDedup.processBatch(b2, 1L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r2.droppedEmbedCorpus == 1 && r2.admitted == 0, r2.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 702L, 704L))
  }

  test("semantic-stage partial-commit recovery converges (sig index last)") {
    val corpusDf = Seq((1L, text(1), vec(1))).toDF("doc_id", "body", "v")
    val corpus = GraftTable.create(spark, tmpTable(),
      corpusDf.select("doc_id", "body").schema)
    corpus.append(corpusDf.select("doc_id", "body"))
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    val ivf = graft.pipeline.VectorOps.buildIvfIndex(
      corpusDf.select("doc_id", "v"), "doc_id", "v", tmpTable(),
      numCentroids = 1)
    val b = Seq((801L, text(80), vec(9))).toDF("doc_id", "body", "v")

    // crash AFTER corpus and ivf commits, BEFORE the sig-index commit:
    // pre-commit both under the batch's identifiers
    corpus.append(b.select("doc_id", "body"), commitIdentifier = 0L,
      commitUser = "streaming-dedup-corpus")
    graft.pipeline.VectorOps.appendToIvfIndex(ivf,
      b.select("doc_id", "v"), "doc_id", "v",
      commitIdentifier = 0L, commitUser = "streaming-dedup-ivf")
    assert(index.toDF.count() == 1) // sig index did NOT advance

    // replay: 801's vector is ALREADY in the IVF index, but same-id pairs
    // are excluded, so the survivor set is unchanged; corpus+ivf appends
    // replay-filter, the sig upsert lands — all three converge
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r.admitted == 1, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 801L))
    assert(ivf.toDF.count() == 2)
    assert(index.toDF.count() == 2)

    // full replay of the SAME batchId: everything drops at the re-ingest
    // check (801 is now in the sig index) — state unchanged
    val r2 = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r2.admitted == 0 && r2.droppedReingest == 1, r2.toString)
    assert(corpusIds(corpus) == Seq(1L, 801L))
    assert(ivf.toDF.count() == 2)
    assert(index.toDF.count() == 2)
  }

  test("span stage: corpus spans cut from admitted text; replay-stable") {
    val (corpus, index) = mkCorpusAndIndex()
    val spanIdx = graft.pipeline.TextOps.buildSpanIndex(
      corpus.toDF.toDF("doc_id", "body"), "doc_id", "body", tmpTable(), n = 8)

    // 501 is unique text that EMBEDS doc 1's first 8 tokens mid-document
    val spanOf1 = text(1).split(" ").take(8).mkString(" ")
    val novel = (0 until 20).map(w => s"n501x$w").mkString(" ")
    val tail = (0 until 12).map(w => s"t501x$w").mkString(" ")
    val b = Seq((501L, s"$novel $spanOf1 $tail")).toDF("doc_id", "body")
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, span = Some(StreamingDedup.SpanStage(spanIdx)))
    assert(r.admitted == 1 && r.spanTokensCut == 8L, r.toString)
    val committed = corpus.toDF.filter(col("doc_id") === 501L)
      .collect()(0).getString(1)
    assert(committed == s"$novel $tail") // corpus serves the CUT text

    // the span index absorbed 501's POST-CUT windows: a later doc that
    // re-uses the novel passage (plus enough fresh text to stay under the
    // near-dup threshold) loses exactly the novel tokens to the index
    val fresh2 = (0 until 20).map(w => s"f502x$w").mkString(" ")
    val b2 = Seq((502L, s"$novel $fresh2")).toDF("doc_id", "body")
    val r2 = StreamingDedup.processBatch(b2, 1L, "doc_id", "body",
      corpus, index, span = Some(StreamingDedup.SpanStage(spanIdx)))
    assert(r2.admitted == 1 && r2.spanTokensCut == 20L, r2.toString)
    assert(corpus.toDF.filter(col("doc_id") === 502L)
      .collect()(0).getString(1) == fresh2)

    // partial-commit crash: corpus + span landed, sig did not → the
    // replay must commit the IDENTICAL cut text (pre-batch span view),
    // not an empty doc (which banding against its own windows would give)
    val novel3 = (0 until 24).map(w => s"m503x$w").mkString(" ")
    val b3 = Seq((503L, s"$novel3 $spanOf1")).toDF("doc_id", "body")
    val cut3 = graft.pipeline.TextOps.removeCorpusSpans(
      b3, "doc_id", "body", spanIdx).collect()(0).getString(1)
    assert(cut3 == novel3)
    corpus.append(Seq((503L, cut3)).toDF("doc_id", "body"),
      commitIdentifier = 2L, commitUser = "streaming-dedup-corpus")
    graft.pipeline.TextOps.appendToSpanIndex(spanIdx,
      Seq((503L, cut3)).toDF("doc_id", "body"), "doc_id", "body",
      commitIdentifier = 2L, commitUser = "streaming-dedup-span")
    val r3 = StreamingDedup.processBatch(b3, 2L, "doc_id", "body",
      corpus, index, span = Some(StreamingDedup.SpanStage(spanIdx)))
    assert(r3.admitted == 1 && r3.spanTokensCut == 8L, r3.toString)
    // exactly one corpus row for 503, carrying the same cut text
    val rows503 = corpus.toDF.filter(col("doc_id") === 503L).collect()
    assert(rows503.length == 1 && rows503(0).getString(1) == novel3)

    // takedown: deleting 501 releases its windows for re-admission
    corpus.delete(col("doc_id") === 501L)
    val (_, _, _, spanN) = StreamingDedup.expireFromIndexes(
      corpus, "doc_id", index, spanIndex = Some(spanIdx))
    assert(spanN > 0)
  }

  /** Two 64-dim vectors at cosine exactly `cos`: u, and cos·u + sin·w for
    * a w orthonormal to u — seeded, deterministic.
    */
  private def anglePair(seed: Int, cos: Double): (Array[Double], Array[Double]) = {
    val rnd = new scala.util.Random(seed)
    val u0 = Array.fill(64)(rnd.nextDouble() - 0.5)
    val w0 = Array.fill(64)(rnd.nextDouble() - 0.5)
    val nu = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / nu)
    val duw = u.zip(w0).map { case (a, b) => a * b }.sum
    val w1 = w0.zip(u).map { case (b, a) => b - duw * a }
    val nw = math.sqrt(w1.map(x => x * x).sum)
    val w = w1.map(_ / nw)
    val s = math.sqrt(1 - cos * cos)
    (u, u.zip(w).map { case (a, b) => cos * a + s * b })
  }

  test("crash-replay does not band the batch against its own IVF commit") {
    // seed 143 gives a pair at cosine 0.9505 — at/above the 0.95 embed
    // threshold but non-colinear, and (searched offline, asserted below)
    // MISSED by the intra-batch auto-scaled LSH family. If a crashed run
    // already appended the batch to the IVF index, a replay whose
    // vs-corpus check sees the batch's own vectors would catch the pair
    // through the index and drop BOTH rows — shrinking the survivor set
    // below what the corpus already committed, permanently losing their
    // sig-index entries. preBatchView pins the check to the pre-batch
    // index state, making the replayed decision identical to the first.
    val (va, vb) = anglePair(143, 0.9505)
    val corpusDf = Seq((1L, text(1), vec(1))).toDF("doc_id", "body", "v")
    val corpus = GraftTable.create(spark, tmpTable(),
      corpusDf.select("doc_id", "body").schema)
    corpus.append(corpusDf.select("doc_id", "body"))
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    // pre-sidecar index: the vs-corpus check exact-scores whole probed
    // cells, so any at-threshold pair visible in the index is caught
    // deterministically — the sharpest version of the hazard
    val ivf = graft.pipeline.VectorOps.buildIvfIndex(
      corpusDf.select("doc_id", "v"), "doc_id", "v", tmpTable(),
      numCentroids = 1, lshSidecar = false)
    val b = Seq((901L, text(90), va), (902L, text(91), vb))
      .toDF("doc_id", "body", "v")

    // premise 1: the intra-batch embedding LSH misses the pair — the
    // first run admits BOTH docs
    assert(graft.pipeline.VectorOps.nearDupPairs(
      b.select("doc_id", "v"), "doc_id", "v", 0.95, dim = 64).count() == 0)

    // simulate the first run: both admitted, corpus + IVF committed,
    // crash BEFORE the sig-index commit
    corpus.append(b.select("doc_id", "body"), commitIdentifier = 0L,
      commitUser = "streaming-dedup-corpus")
    graft.pipeline.VectorOps.appendToIvfIndex(ivf,
      b.select("doc_id", "v"), "doc_id", "v",
      commitIdentifier = 0L, commitUser = "streaming-dedup-ivf")
    assert(index.toDF.count() == 1) // sig index did NOT advance

    // premise 2: banding against the LATEST index state now catches the
    // pair both ways — the un-pinned replay would drop both rows
    assert(graft.pipeline.VectorOps.embedNearDupAgainst(
      b.select("doc_id", "v"), "doc_id", "v", ivf, 0.95).count() == 2)

    // replay: the vs-corpus check reads the index BEFORE this batch's
    // commit, so the survivor set matches the first run; corpus + IVF
    // appends replay-filter and the sig commit lands — converged
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r.admitted == 2 && r.droppedEmbedCorpus == 0, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 901L, 902L))
    assert(ivf.toDF.count() == 3)
    assert(index.toDF.count() == 3) // both signatures present — no future
                                    // duplicate admission
  }

  test("replay and partial-commit recovery converge exactly-once") {
    val (corpus, index) = mkCorpusAndIndex()
    val b1 = Seq((201L, text(20)), (202L, text(21))).toDF("doc_id", "body")

    // simulate a crash AFTER the corpus commit but BEFORE the index
    // commit: pre-commit the corpus rows under the batch's identifier
    corpus.append(b1, commitIdentifier = 0L,
      commitUser = "streaming-dedup-corpus")
    assert(index.toDF.count() == 3) // index did NOT advance

    // the restarted batch recomputes the same survivors: corpus append is
    // replay-filtered, index upsert lands
    val r = StreamingDedup.processBatch(b1, 0L, "doc_id", "body",
      corpus, index)
    assert(r.admitted == 2, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 201L, 202L))
    assert(index.toDF.count() == 5)

    // full replay of the SAME batchId: both tables filter it
    StreamingDedup.processBatch(b1, 0L, "doc_id", "body", corpus, index)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 201L, 202L))
    assert(index.toDF.count() == 5)
  }

  test("production mode (trackCounts=false) commits the identical state") {
    def run(trackCounts: Boolean): (Seq[Long], Long, Seq[Long], StreamingDedup.BatchResult) = {
      val corpusDf = Seq(
        (1L, text(1), vec(1)), (2L, text(2), vec(2))).toDF("doc_id", "body", "v")
      val corpus = GraftTable.create(spark, tmpTable(),
        corpusDf.select("doc_id", "body").schema)
      corpus.append(corpusDf.select("doc_id", "body"))
      val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
      val ivf = graft.pipeline.VectorOps.buildIvfIndex(
        corpusDf.select("doc_id", "v"), "doc_id", "v", tmpTable(),
        numCentroids = 2)
      // every drop stage fires: 852 exact-dups 851, 853 near-dups corpus
      // doc 1, 854/855 embedding-colinear (intra), 856 colinear with
      // corpus doc 2 (vs index), 857 clean
      val b = Seq(
        (851L, text(85), vec(20)), (852L, text(85), vec(20)),
        (853L, text(1, perturb = 6), vec(21)),
        (854L, text(86), vec(22)), (855L, text(87), vec(22, scale = 1.01)),
        (856L, text(88), vec(2, scale = 0.98)), (857L, text(89), vec(23)))
        .toDF("doc_id", "body", "v")
      val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
        corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)),
        trackCounts = trackCounts)
      (corpusIds(corpus), index.toDF.count(),
        ivf.toDF.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq, r)
    }
    val (idsT, sigT, ivfT, rT) = run(trackCounts = true)
    val (idsF, sigF, ivfF, rF) = run(trackCounts = false)
    assert(idsT == idsF && sigT == sigF && ivfT == ivfF,
      s"tracked=($idsT,$sigT,$ivfT) untracked=($idsF,$sigF,$ivfF)")
    assert(rT.admitted == rF.admitted, s"${rT.admitted} vs ${rF.admitted}")
    // tracked mode attributes every stage; production mode reports only
    // the admitted count
    assert(rT.droppedExact == 1 && rT.droppedCorpus == 1 &&
      rT.droppedEmbedIntra == 1 && rT.droppedEmbedCorpus == 1, rT.toString)
    assert(rF.input == -1L && rF.droppedExact == -1L, rF.toString)
  }

  test("backfill: chunked bootstrap dedups across chunks and reruns converge") {
    val (corpus, index) = mkCorpusAndIndex()
    // 8 docs: 402 exact-dups 401, 403 near-dups 401, 404 near-dups corpus
    // doc 2, rest unique — chunk assignment is hash-based, so dups may
    // land in the same or different chunks; either way exactly one
    // representative of the 401-family and nothing near the corpus wins
    val docs = Seq(
      (401L, text(40)), (402L, text(40)), (403L, text(40, perturb = 11)),
      (404L, text(2, perturb = 4)), (405L, text(41)), (406L, text(42)),
      (407L, text(43)), (408L, text(44))).toDF("doc_id", "body")
    val res = StreamingDedup.backfill(docs, "doc_id", "body",
      corpus, index, batches = 3)
    assert(res.map(_.batchId) == Seq(0L, 1L, 2L))
    assert(res.map(_.input).sum == 8)
    val afterIds = corpusIds(corpus)
    // exactly one of the 401-family survives (the smallest id in the
    // EARLIEST chunk containing one — chunk order is authoritative), 404
    // dropped vs corpus, all four unique docs admitted
    assert(afterIds.count(Seq(401L, 402L, 403L).contains) == 1, afterIds.toString)
    assert(!afterIds.contains(404L), afterIds.toString)
    assert(Seq(405L, 406L, 407L, 408L).forall(afterIds.contains), afterIds.toString)
    assert(index.toDF.count() == afterIds.size)

    // full rerun (crash-recovery path): every chunk replay-filters — the
    // table state must not change
    StreamingDedup.backfill(docs, "doc_id", "body", corpus, index, batches = 3)
    assert(corpusIds(corpus) == afterIds)
    assert(index.toDF.count() == afterIds.size)
  }

  test("backfill refuses to resume with a different modulus") {
    val (corpus, index) = mkCorpusAndIndex()
    val docs = Seq((501L, text(50)), (502L, text(51))).toDF("doc_id", "body")
    StreamingDedup.backfill(docs, "doc_id", "body", corpus, index, batches = 2)
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.backfill(docs, "doc_id", "body", corpus, index, batches = 4)
    }
    assert(e.getMessage.contains("batches=2"), e.getMessage)
    // same modulus resumes fine (pure replay)
    StreamingDedup.backfill(docs, "doc_id", "body", corpus, index, batches = 2)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 501L, 502L))
  }

  test("perceptual stage: image fingerprints drop twins intra-batch and vs index") {
    import graft.pipeline.Multimodal
    def png(seed: Long) = Multimodal.encodeBlockPng(90, 80, seed)
    def bytesOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.select("content").collect()(0).getAs[Array[Byte]](0)
    val resized2 = bytesOf(Multimodal.resizeImages(
      Seq((1L, png(2))).toDF("id", "content"), "content", 45, 40))
    val jpeg7 = bytesOf(Multimodal.transcodeImages(
      Seq((1L, png(7))).toDF("id", "content"), "content", "jpeg"))

    val corpusDf = Seq(
      (1L, text(1), png(1)), (2L, text(2), png(2)), (3L, text(3), png(3)))
      .toDF("doc_id", "body", "img")
    val corpus = GraftTable.create(spark, tmpTable(),
      corpusDf.select("doc_id", "body").schema)
    corpus.append(corpusDf.select("doc_id", "body"))
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    val fpIdx = Multimodal.buildFingerprintIndex(
      corpusDf, "doc_id", "img", tmpTable(), kind = "image")
    assert(fpIdx.toDF.count() == 3)

    // 901: unique text, image is a RESIZED copy of corpus pattern 2 (vs
    // index drop); 902/903: unique texts, SAME new pattern (902 original,
    // 903 jpeg re-encode — intra drop, larger id); 904 novel pattern;
    // 905 undecodable bytes (passes through unfingerprinted)
    val b = Seq(
      (901L, text(90), resized2),
      (902L, text(91), png(7)), (903L, text(92), jpeg7),
      (904L, text(93), png(8)),
      (905L, text(94), Array[Byte](1, 2, 3))).toDF("doc_id", "body", "img")
    val r = StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, fp = Some(StreamingDedup.FingerprintStage("img", fpIdx)))
    assert(r.droppedFpIntra == 1 && r.droppedFpCorpus == 1 &&
      r.admitted == 3, r.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 902L, 904L, 905L))
    // fp index advanced with the admitted DECODABLE rows only
    assert(fpIdx.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 902L, 904L))

    // batch 2: a re-encode of 902's pattern — caught through the UPDATED
    // index; full replay of batch 0 drops everything at the re-ingest
    // guard, leaving state unchanged
    val b2 = Seq((906L, text(95), jpeg7)).toDF("doc_id", "body", "img")
    val r2 = StreamingDedup.processBatch(b2, 1L, "doc_id", "body",
      corpus, index, fp = Some(StreamingDedup.FingerprintStage("img", fpIdx)))
    assert(r2.droppedFpCorpus == 1 && r2.admitted == 0, r2.toString)
    StreamingDedup.processBatch(b, 0L, "doc_id", "body",
      corpus, index, fp = Some(StreamingDedup.FingerprintStage("img", fpIdx)))
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 902L, 904L, 905L))
    assert(fpIdx.toDF.count() == 5)
  }

  test("corpus deletion propagates to the indexes; the doc can re-ingest") {
    val corpusDf = Seq(
      (1L, text(1), vec(1)), (2L, text(2), vec(2)), (3L, text(3), vec(3)))
      .toDF("doc_id", "body", "v")
    val corpus = GraftTable.create(spark, tmpTable(),
      corpusDf.select("doc_id", "body").schema)
    corpus.append(corpusDf.select("doc_id", "body"))
    val index = Dedup.buildSigIndex(corpusDf, "doc_id", "body", tmpTable())
    val ivf = graft.pipeline.VectorOps.buildIvfIndex(
      corpusDf.select("doc_id", "v"), "doc_id", "v", tmpTable(),
      numCentroids = 2)

    // takedown: doc 2 leaves the corpus
    corpus.delete(col("doc_id") === 2L)
    assert(corpusIds(corpus) == Seq(1L, 3L))

    // the hazard: WITHOUT index expiry the stale signature blocks the
    // same doc from EVER re-entering (re-ingest guard keys on index ids)
    val back = Seq((2L, text(2), vec(2))).toDF("doc_id", "body", "v")
    val r0 = StreamingDedup.processBatch(back, 0L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r0.droppedReingest == 1 && r0.admitted == 0, r0.toString)

    // expire: exactly the deleted doc leaves both indexes
    val (sigN, ivfN, _, _) = StreamingDedup.expireFromIndexes(
      corpus, "doc_id", index, Some(ivf))
    assert((sigN, ivfN) == ((1L, 1L)), s"($sigN,$ivfN)")
    assert(index.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    assert(ivf.toDF.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))

    // the SAME doc now re-ingests cleanly (fresh batchId), and all three
    // tables carry it again
    val r1 = StreamingDedup.processBatch(back, 1L, "doc_id", "body",
      corpus, index, embed = Some(StreamingDedup.EmbedStage("v", ivf)))
    assert(r1.admitted == 1, r1.toString)
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L))
    assert(index.toDF.count() == 3 && ivf.toDF.count() == 3)

    // idempotent: nothing left to expire
    assert(StreamingDedup.expireFromIndexes(corpus, "doc_id", index,
      Some(ivf)) == ((0L, 0L, 0L, 0L)))

    // the SQL surface: CALL sys.expire_from_indexes after another takedown
    corpus.delete(col("doc_id") === 3L)
    val msg = spark.sql(
      s"""CALL sys.expire_from_indexes('${corpus.location}', 'doc_id',
         |'${index.location}', '${ivf.location}')""".stripMargin)
      .collect()(0).getString(0)
    assert(msg ==
      "expired 1 sig-index, 1 ivf-index, 0 fp-index and 0 span-index entries",
      msg)
    assert(index.toDF.count() == 2 && ivf.toDF.count() == 2)
  }

  test("expireFromIvfIndex clears fully-expired cells") {
    import spark.implicits._
    val vecs = (1L to 20L).map(i => (i, vec(i.toInt))).toDF("doc_id", "v")
    val ivf = graft.pipeline.VectorOps.buildIvfIndex(
      vecs, "doc_id", "v", tmpTable(), numCentroids = 3)
    // only ids 1..5 remain live: at least one of the 3 cells is very
    // likely fully expired — and with an EMPTY live set below, all are
    val n1 = graft.pipeline.VectorOps.expireFromIvfIndex(ivf,
      Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id"))
    assert(n1 == 15, n1.toString)
    assert(ivf.toDF.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 5L))
    // expire everything: fully-emptied cells must clear (the overwrite
    // commits file deletions with zero adds)
    val n2 = graft.pipeline.VectorOps.expireFromIvfIndex(ivf,
      spark.emptyDataset[Long].toDF("doc_id"))
    assert(n2 == 5 && ivf.toDF.count() == 0, s"$n2 ${ivf.toDF.count()}")
  }

  test("streaming wrapper dedups across micro-batches") {
    implicit val sql = spark.sqlContext
    val (corpus, index) = mkCorpusAndIndex()
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[StreamingDedup.BatchResult]
    val q = StreamingDedup.start(input.toDF().toDF("doc_id", "body"),
      "doc_id", "body", corpus, index, tmpTable() + "-ckpt",
      onBatch = r => results.synchronized { results += r })
    try {
      input.addData((301L, text(30)), (302L, text(1, perturb = 9)))
      q.processAllAvailable()
      // 303 near-dups 301 from the PREVIOUS micro-batch
      input.addData((303L, text(30, perturb = 2)), (304L, text(31)))
      q.processAllAvailable()
    } finally q.stop()
    assert(corpusIds(corpus) == Seq(1L, 2L, 3L, 301L, 304L))
    assert(index.toDF.count() == 5)
    assert(results.map(r => (r.admitted, r.droppedCorpus)).toSeq ==
      Seq((1L, 1L), (1L, 1L)), results.toString)
  }
}
