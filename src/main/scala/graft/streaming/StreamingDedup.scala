package graft.streaming

import graft.pipeline.{Dedup, VectorOps}
import graft.table.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous dedup-on-ingest: the production shape of the incremental
  * dedup primitives ("dedup tonight's crawl batch against the existing
  * corpus" — reference capability family: paimon's streaming upsert ingest
  * with `deduplicate` merge-engine, paimon-flink/.../sink/; the near-dup
  * layer is pipeline-level, beyond the reference).
  *
  * Each micro-batch of incoming documents is
  *  1. exact-deduplicated within itself (one survivor per text
  *     fingerprint, smallest id wins — deterministic), and stripped of
  *     ids the corpus already serves (re-crawls — the corpus copy wins),
  *  2. near-dup-deduplicated within itself (MinHash LSH pairs, the larger
  *     id of every verified pair drops),
  *  3. near-dup-checked AGAINST the persisted signature index of the
  *     corpus ([[Dedup.nearDupPairsAgainst]] — the corpus text is never
  *     re-shingled; only its tiny (id, sig) index is banded), optionally
  *     followed by the SEMANTIC stage ([[EmbedStage]]: embedding near-dup
  *     within the batch and against the corpus's IVF index), and
  *  4. the survivors are appended to the corpus table, their vectors to
  *     the IVF index (when the semantic stage is on), and their
  *     signatures upserted into the signature index — each under
  *     `commitIdentifier = batchId` — graft's per-commitUser exactly-once
  *     filter makes a replayed batch a no-op on whichever table already
  *     committed it.
  *
  * Crash-recovery correctness: the writes are not atomic together, but the
  * dedup decision is a deterministic function of (batch, index snapshots),
  * and the signature index — the one the re-ingest check (1b) keys on —
  * commits LAST. A failure anywhere earlier leaves the sig index
  * unchanged, so the restarted batch recomputes the SAME survivor set —
  * the semantic vs-corpus check explicitly bands against the IVF state
  * BEFORE this batch's own commit ([[preBatchView]]), so batch vectors a
  * crashed run already appended cannot re-drop survivors — already-
  * committed tables replay-filter their appends, and only the missing
  * commits land: converging to the committed state rather than
  * duplicating or losing documents.
  *
  * Scale shape: per batch the corpus participates only through (a) its
  * signature index scan (band projections, no text) and (b) candidate-id
  * text lookups for exact-Jaccard verification — an AQE-broadcast join of
  * the candidate ids against the corpus, never a corpus shuffle. A batch of
  * B docs against a 100-TB corpus costs O(B) signature work plus
  * |candidates| text reads.
  */
object StreamingDedup {

  /** What one micro-batch did — returned by [[processBatch]] and logged by
    * the streaming wrapper.
    */
  case class BatchResult(batchId: Long, input: Long, admitted: Long,
      droppedExact: Long, droppedIntra: Long, droppedCorpus: Long,
      droppedReingest: Long = 0L, droppedEmbedIntra: Long = 0L,
      droppedEmbedCorpus: Long = 0L,
      droppedFpIntra: Long = 0L, droppedFpCorpus: Long = 0L,
      /** Tokens the span stage cut from admitted docs (-1 when the stage
        * is off or counts are untracked). Excluded from equality like
        * stageSecs — it measures text surgery, not the admitted set.
        */
      spanTokensCut: Long = -1L,
      /** Wall seconds per stage (the stage counts are the barriers, so
        * attribution is exact) — the per-batch profile that says which
        * stage to scale next. Excluded from equality so exact-match test
        * assertions stay stable.
        */
      stageSecs: Map[String, Double] = Map.empty) {
    override def equals(o: Any): Boolean = o match {
      case b: BatchResult =>
        (batchId, input, admitted, droppedExact, droppedIntra, droppedCorpus,
          droppedReingest, droppedEmbedIntra, droppedEmbedCorpus,
          droppedFpIntra, droppedFpCorpus) ==
        ((b.batchId, b.input, b.admitted, b.droppedExact, b.droppedIntra,
          b.droppedCorpus, b.droppedReingest, b.droppedEmbedIntra,
          b.droppedEmbedCorpus, b.droppedFpIntra, b.droppedFpCorpus))
      case _ => false
    }
    override def hashCode(): Int =
      (batchId, input, admitted, droppedExact, droppedIntra, droppedCorpus,
        droppedReingest, droppedEmbedIntra, droppedEmbedCorpus,
        droppedFpIntra, droppedFpCorpus).hashCode()
  }

  /** Optional SEMANTIC stage of the ingest pipeline: after the text checks,
    * survivors are embedding-near-dup-checked within the batch
    * ([[VectorOps.nearDupPairs]]) and against the corpus's persisted IVF
    * index ([[VectorOps.embedNearDupAgainst]] — probes `nProbe` cells per
    * vector, never scans the corpus), and the vectors of admitted docs are
    * folded into that index ([[VectorOps.appendToIvfIndex]]) under the same
    * exactly-once batch commit. This catches paraphrases/translations whose
    * shingle sets share nothing — the dedup layer token-level LSH cannot
    * see.
    */
  case class EmbedStage(vecCol: String, ivfIndex: GraftTable,
      threshold: Double = 0.95, nProbe: Int = 4)

  /** Optional SPAN stage: after every admission check, survivors' TEXT is
    * REWRITTEN — each n-token span the corpus already contains is cut
    * ([[graft.pipeline.TextOps.removeCorpusSpans]] against the persisted
    * window-hash span index), and the admitted docs' post-cut window
    * hashes fold into that index under the same exactly-once batch
    * commit. Unlike every other stage this one modifies committed text
    * instead of dropping documents — the Lee et al. 2021 "never re-train
    * on yesterday's text" transform as an ingest stage. The cut is a
    * deterministic function of (batch, span-index pre-batch state): a
    * replay after a partial commit bands against the pre-batch view
    * ([[preBatchView]]), so the committed text is identical. Downstream
    * tables (corpus, signature index) see the CUT text — what the corpus
    * serves is what gets signed.
    */
  case class SpanStage(spanIndex: GraftTable)

  /** Optional PERCEPTUAL stage of the ingest pipeline: after the text
    * checks, survivors' media bytes are fingerprinted (64-bit image dHash
    * or audio energy hash, per the index's pinned kernel kind),
    * near-dup-checked within the batch and against the persisted
    * fingerprint index ([[graft.pipeline.Multimodal.fingerprintPairsAgainst]]
    * — the corpus media is never re-read, only its 8-byte sketches), and
    * admitted rows' fingerprints upsert into the index under the same
    * exactly-once batch commit. Catches resized/re-encoded images and
    * gain-scaled audio that byte-exact and text dedup cannot see.
    * Undecodable rows pass through unfingerprinted (never dropped).
    */
  case class FingerprintStage(contentCol: String, fpIndex: GraftTable,
      maxHamming: Int = 3)

  /** Replay-stable view of an index for this batch's vs-corpus checks: if
    * a PRIOR (crashed) run of this very batch already committed into the
    * index — a snapshot with this batch's (commitUser, commitIdentifier)
    * exists in the chain — band against the state BEFORE that commit.
    * Without this, a replay sees the batch's own vectors in the index, and
    * a near-threshold cross-id pair missed by the intra-batch LSH but
    * caught by the index's banding drops BOTH rows: the survivor set
    * shrinks below what the first run committed, the sig index then
    * permanently lacks signatures for corpus-committed rows, and future
    * duplicates of them are admitted. Banding against the pre-batch state
    * makes the replayed decision a function of the SAME inputs the first
    * run saw, so the survivor set is identical and every replayed commit
    * is a clean no-op.
    *
    * Returns None (read latest) when the batch never committed. Batches
    * commit in commitIdentifier order, so the newest-first scan stops at
    * the first same-user snapshot with a SMALLER identifier — the common,
    * non-replay case reads one snapshot JSON per concurrent writer's tail
    * commit, not the whole chain, keeping per-batch driver metadata IO
    * O(1) in table history.
    * If the predecessor snapshot has been EXPIRED (snapshot retention
    * shorter than the replay window — an operational misconfiguration,
    * warned on), no pre-batch view survives and an EMPTY frame is
    * returned: the vs-corpus check is skipped for that replay. An empty
    * view can only under-approximate the corpus, admitting a doc the
    * corpus check would have dropped (bounded recall loss) — never
    * dropping a committed survivor.
    */
  private def preBatchView(index: GraftTable, user: String,
      batchId: Long): Option[DataFrame] = {
    val store = index.store
    val ids = store.snapshotIds
    ids.reverse.iterator.map(store.readSnapshot)
      .takeWhile(s => !(s.commitUser == user && s.commitIdentifier < batchId))
      .find(s => s.commitUser == user && s.commitIdentifier == batchId)
      .map { s =>
        ids.filter(_ < s.id).maxOption match {
          case Some(prev) => index.toDF(prev)
          case None =>
            if (s.id != 1L)
              System.err.println(
                s"graft: pre-batch snapshot of ${index.location} for " +
                  s"batch $batchId has been expired; vs-corpus check " +
                  "skipped for this replay (configure snapshot retention " +
                  "longer than the replay window)")
            index.toDF(None) // expired predecessor (or commit was snapshot 1)
        }
      }
  }

  /** Run one batch of the ingest-with-dedup pipeline (the `foreachBatch`
    * body; callable directly for batch backfills). `corpus` must contain
    * `idCol` and `textCol`; survivors are appended with the batch's full
    * column set projected to the corpus schema. With `embed` set, the batch
    * must also carry `embed.vecCol` and the semantic stage runs between the
    * text checks and the commits.
    */
  /** `trackCounts = false` is the production mode: the per-stage `count()`
    * barriers (exact stage attribution + the `dropped*` fields) are
    * SKIPPED, so the whole dedup pipeline stays lazy and fuses into one
    * materialization of the admitted set right before the commits — a
    * small batch runs ~3 Spark jobs instead of ~10. The admitted count
    * still comes from that single barrier; `input` and the `dropped*`
    * fields are reported as -1 (unknown). Table state is IDENTICAL in
    * both modes — the counts only observe.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, corpus: GraftTable, index: GraftTable,
      threshold: Double = 0.7, commitUser: String = "streaming-dedup",
      embed: Option[EmbedStage] = None, trackCounts: Boolean = true,
      fp: Option[FingerprintStage] = None,
      span: Option[SpanStage] = None)
      : BatchResult = {
    val in = batch.persist()
    val cached = scala.collection.mutable.ListBuffer[DataFrame](in)
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
    val stageSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime(); val out = f
      stageSecs(stage) = (System.nanoTime() - t0) / 1e9; out
    }
    // in production mode the stage barriers vanish: counted(...) keeps the
    // persist (real reuse — each stage feeds ≥2 consumers) but returns -1
    // without running a job
    def counted(stage: String)(df: => DataFrame): (DataFrame, Long) = {
      val d = keep(df)
      (d, if (trackCounts) timed(stage)(d.count()) else -1L)
    }
    try {
      val inputN = if (trackCounts) timed("input")(in.count()) else -1L

      // 1. exact intra-batch: one survivor per fingerprint, smallest id —
      // a min_by AGGREGATION (map-side partial, no per-group sort buffer).
      // The ordering key is (id IS NULL, id): min_by ignores rows whose
      // ordering value is null, so a bare null id would make a whole
      // group vanish into a null struct — the isNull prefix keeps the
      // ordering non-null (null-id rows sort last) while getField keeps
      // column names with dots resolvable.
      val (exact, exactN) = counted("exact")(in
        .groupBy(md5(col(textCol).cast("string")).as("__fp"))
        .agg(min_by(struct(in.columns.map(col): _*),
          struct(col(idCol).isNull.as("n"), col(idCol).as("i"))).as("__row"))
        .select(in.columns.map(c => col("__row").getField(c).as(c)): _*))

      // 1b. drop ids the corpus already serves (a re-crawl of a known id):
      // nearDupPairsAgainst excludes same-id pairs (a doc is not a dup of
      // itself), so without this an identical re-ingest would be admitted
      // and duplicate the corpus row while the index upsert replaced the
      // signature — corpus and index diverging. Shape: the batch's id set
      // broadcasts into a semi-join against the index's id column (one
      // column-pruned index scan, no corpus shuffle), and the resulting
      // hit set (≤ batch-sized) broadcasts back into the anti-join.
      val knownIds = keep(index.toDF.select(col("id").as(idCol))
        .join(broadcast(exact.select(col(idCol))), Seq(idCol), "left_semi"))
      val (fresh, freshN) = counted("reingest")(
        exact.join(broadcast(knownIds), Seq(idCol), "left_anti"))

      // ONE signature pass for the whole batch: the intra check, the
      // vs-corpus check and the sig-index commit all sign (subsets of)
      // `fresh` — sign it once at the index's numHashes and let each
      // consumer restrict to its own id set (Dedup's precomputedSigs).
      // Signatures are a pure per-row function of the text, so results
      // are identical; the batch is shingled+signed once instead of up to
      // three times. Two gates: the intra check's default family is 64
      // hashes (reuse only when the index agrees — its output would
      // differ otherwise), and a span stage REWRITES committed text, so
      // the sig commit must re-sign the cut text (see appendToSigIndex).
      // (sigFrameFor pins the frame — the pin IS the share point; a
      // second persist on top would just duplicate the cache)
      val freshSigs = Some(Dedup.sigFrameFor(index, fresh, idCol, textCol))

      // 2. near-dup intra-batch: larger id of every verified pair drops
      val intraPairs = timed("build_text_intra")(
        Dedup.nearDupPairs(fresh, idCol, textCol, threshold,
          precomputedSigs = freshSigs.filter(_._2 == Dedup.DefaultNumHashes)))
      val (intraSurvivors, intraN) = counted("text_intra")(fresh.join(
        Dedup.dropIds(intraPairs).withColumnRenamed("drop_id", idCol),
        Seq(idCol), "left_anti"))

      // 3. against the corpus: ANY verified pair drops the new doc (the
      // corpus copy wins — it is already served downstream)
      val corpusPairs = timed("build_text_corpus")(
        Dedup.nearDupPairsAgainst(intraSurvivors, idCol,
          textCol, index, corpus.toDF, threshold,
          precomputedSigs = freshSigs))
      val (textAdmitted, textAdmittedN) = counted("text_corpus")(
        intraSurvivors.join(
          corpusPairs.select(col("new_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti"))

      // 3a. perceptual stage: 64-bit media fingerprints (image dHash /
      // audio energy hash per the index's pinned kernel) dedup within the
      // batch, then against the persisted fingerprint index — catches
      // resized/re-encoded/gain-scaled media twins text checks cannot
      // see. The intra check is COMPLETE for hamming <= maxHamming
      // (pigeonhole), so no cross-id batch pair can be newly caught
      // through the index on replay — the pre-batch view is defense in
      // depth here, not a correctness requirement as in the embed stage.
      val (fpAdmitted, fpIntraN, fpAdmittedN) = fp match {
        case None => (textAdmitted, textAdmittedN, textAdmittedN)
        case Some(f) =>
          val kind = graft.pipeline.Multimodal.fpIndexKind(f.fpIndex)
          val intraFpPairs = graft.pipeline.Multimodal.fingerprintPairs(
            textAdmitted, idCol, f.contentCol, kind, f.maxHamming)
          val (s1, n1) = counted("fp_intra")(textAdmitted.join(
            Dedup.dropIds(intraFpPairs).withColumnRenamed("drop_id", idCol),
            Seq(idCol), "left_anti"))
          val vsIdx = graft.pipeline.Multimodal.fingerprintPairsAgainst(
            s1, idCol, f.contentCol, f.fpIndex, f.maxHamming,
            view = preBatchView(f.fpIndex, s"$commitUser-fp", batchId))
          val (s2, n2) = counted("fp_corpus")(s1.join(
            vsIdx.select(col("new_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti"))
          (s2, n1, n2)
      }

      // 3b/3c. semantic stage: embedding near-dup within the batch, then
      // against the corpus's IVF index — catches rephrasings the shingle
      // LSH cannot (distinct token sets, same meaning)
      val (admitted, embedIntraN) = embed match {
        case None => (fpAdmitted, fpAdmittedN)
        case Some(e) =>
          // the LSH plane family must match the batch's true dimensionality
          // — taken from the IVF index's stored centroids, the one
          // authoritative record of what this corpus embeds as
          val embedPairs = timed("build_embed_intra")(
            VectorOps.nearDupPairs(fpAdmitted, idCol,
              e.vecCol, e.threshold, dim = VectorOps.ivfIndexDim(e.ivfIndex)))
          val (s1, s1N) = counted("embed_intra")(fpAdmitted.join(
            Dedup.dropIds(embedPairs).withColumnRenamed("drop_id", idCol),
            Seq(idCol), "left_anti"))
          val vsCorpus = timed("build_embed_corpus")(
            VectorOps.embedNearDupAgainst(
              s1, idCol, e.vecCol, e.ivfIndex, e.threshold, e.nProbe,
              view = preBatchView(e.ivfIndex, s"$commitUser-ivf", batchId)))
          (keep(s1.join(vsCorpus.select(col("new_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")), s1N)
      }
      // 3d. span stage: survivors' TEXT is rewritten — every n-token span
      // the corpus already has is cut against the span index's pre-batch
      // view (replay-stable), and downstream commits (corpus text, sig
      // signatures) see the CUT text
      val (finalAdmitted, spanCutN) = span match {
        case None => (admitted, -1L)
        case Some(sp) =>
          val cut = keep(graft.pipeline.TextOps.removeCorpusSpans(
            admitted, idCol, textCol, sp.spanIndex,
            view = preBatchView(sp.spanIndex, s"$commitUser-span", batchId)))
          val joined = keep(admitted.drop(textCol).join(
            cut.select(col("doc_id").as(idCol), col("text").as(textCol)),
            Seq(idCol)))
          val n = if (trackCounts)
            timed("span_cut")(
              cut.agg(coalesce(sum(col("removed_tokens")), lit(0L)))
                .collect()(0).getLong(0))
          else -1L
          (joined, n)
      }
      // the one ALWAYS-ON barrier: materializes the whole (lazily fused,
      // in production mode) dedup pipeline into the persisted admitted
      // frame exactly once, BEFORE the commits traverse it — the commits
      // (two of them concurrent) then read cache, never recompute. Timed
      // under its own label: with SpanStage on, this barrier also runs
      // the span-cut pipeline, and charging it to 'embed_corpus' would
      // misattribute span cost to the embedding stage
      val admittedN = timed("materialize")(finalAdmitted.count())

      // 4. exactly-once writes: distinct commitUsers give the tables
      // independent replay filters keyed by the same batchId. ORDER
      // MATTERS for crash convergence: the SIGNATURE index commits LAST
      // because the re-ingest check (1b) keys on it — a replay after a
      // crash anywhere earlier sees the sig index unchanged, recomputes
      // the identical survivor set (the vs-index embedding check pins the
      // pre-batch IVF state, see [[preBatchView]]), and already-committed
      // tables filter their replays; once the sig commit lands, a replay
      // of the whole batch drops everything at 1b, and every append is a
      // no-op on content. Either way the three tables converge.
      //
      // The corpus and IVF commits are order-INDEPENDENT between
      // themselves (convergence keys only on "sig last"), so they run
      // CONCURRENTLY — at 100× batch scale the three sequential commits
      // were the dominant stage (13.2 s of 63.3 s), and the corpus + IVF
      // legs overlap their staging writes and manifest passes.
      val corpusCols = corpus.schema.fields.map(f => col(f.name))
      timed("commits") {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = commitEc
        // pool threads carry no active-session thread-local — pin it, or
        // SQLConf.get (and with it the staging write's session settings)
        // silently falls back to defaults on the commit legs
        val session = admitted.sparkSession
        def leg[T](f: => T): Future[T] = Future {
          org.apache.spark.sql.SparkSession.setActiveSession(session); f
        }
        // per-leg wall seconds ride stageSecs (commit_corpus/_ivf overlap,
        // so they sum to MORE than the commits stage — that overhang is
        // the concurrency win)
        def timedLeg[T](name: String)(f: => T): T = {
          val t0 = System.nanoTime(); val out = f
          stageSecs.synchronized {
            stageSecs(name) = (System.nanoTime() - t0) / 1e9 }
          out
        }
        val legs = Seq(
          leg(timedLeg("commit_corpus")(
            corpus.append(finalAdmitted.select(corpusCols: _*),
              commitIdentifier = batchId, commitUser = s"$commitUser-corpus")))
        ) ++ embed.map { e =>
          leg(timedLeg("commit_ivf")(VectorOps.appendToIvfIndex(e.ivfIndex,
            finalAdmitted.select(col(idCol), col(e.vecCol)), idCol, e.vecCol,
            commitIdentifier = batchId, commitUser = s"$commitUser-ivf")))
        } ++ fp.map { f =>
          leg(timedLeg("commit_fp")(
            graft.pipeline.Multimodal.appendToFingerprintIndex(f.fpIndex,
              finalAdmitted.select(col(idCol), col(f.contentCol)), idCol,
              f.contentCol, commitIdentifier = batchId,
              commitUser = s"$commitUser-fp")))
        } ++ span.map { sp =>
          // the admitted docs' POST-CUT windows become corpus spans —
          // order-independent vs corpus/ivf/fp (convergence keys only on
          // "sig last"; the cut itself pins the pre-batch view)
          leg(timedLeg("commit_span")(
            graft.pipeline.TextOps.appendToSpanIndex(sp.spanIndex,
              finalAdmitted.select(col(idCol), col(textCol)), idCol, textCol,
              commitIdentifier = batchId, commitUser = s"$commitUser-span")))
        }
        // await ALL legs (even after one fails — a leg left running while
        // the finally-unpersist fires would recompute its input) and
        // surface the first failure; the sig commit runs only if both
        // landed, preserving "sig last"
        val outcomes = legs.map(l => scala.util.Try(Await.result(l, Duration.Inf)))
        outcomes.collectFirst { case scala.util.Failure(e) => throw e }
        timedLeg("commit_sig")(
          Dedup.appendToSigIndex(index, finalAdmitted, idCol, textCol,
            commitIdentifier = batchId, commitUser = s"$commitUser-index",
            // a span stage rewrote the committed text — must re-sign it;
            // otherwise finalAdmitted ⊆ fresh with identical text
            precomputedSigs = if (span.isEmpty) freshSigs else None))
      }

      if (trackCounts)
        BatchResult(batchId, inputN, admittedN,
          droppedExact = inputN - exactN, droppedIntra = freshN - intraN,
          droppedCorpus = intraN - textAdmittedN,
          droppedReingest = exactN - freshN,
          droppedEmbedIntra = fpAdmittedN - embedIntraN,
          droppedEmbedCorpus = embedIntraN - admittedN,
          droppedFpIntra = textAdmittedN - fpIntraN,
          droppedFpCorpus = fpIntraN - fpAdmittedN,
          spanTokensCut = spanCutN, stageSecs = stageSecs.toMap)
      else // production mode: only the admitted count is observed
        BatchResult(batchId, input = -1L, admitted = admittedN,
          droppedExact = -1L, droppedIntra = -1L, droppedCorpus = -1L,
          droppedReingest = -1L, droppedEmbedIntra = -1L,
          droppedEmbedCorpus = -1L, droppedFpIntra = -1L,
          droppedFpCorpus = -1L, stageSecs = stageSecs.toMap)
    } finally cached.foreach(_.unpersist()) // failed batches leak no blocks
  }

  /** Pool for the concurrent corpus/IVF/fingerprint commit legs of
    * [[processBatch]] — sized to that exact fan-out; daemon threads so an
    * abandoned batch never pins the JVM.
    */
  private lazy val commitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-commit-leg"); t.setDaemon(true); t
        }))

  /** Propagate corpus deletions into the dedup indexes (takedown/GDPR):
    * sig-index and IVF-index rows whose doc was DELETED from the corpus
    * are expired by distributed anti-joins against the corpus's live id
    * set ([[Dedup.expireFromSigIndex]], [[VectorOps.expireFromIvfIndex]]).
    * Run after row-level deletes on the corpus; without it a deleted id
    * can never re-ingest (the re-ingest guard keys on the sig index) and
    * ghost signatures/vectors keep matching against text that is gone.
    * Returns (sigExpired, ivfExpired).
    *
    * Ordering note: expiring the SIG index releases the id for
    * re-admission, so run this only after the corpus delete is final —
    * the inverse of ingest, where the sig commit is last.
    */
  def expireFromIndexes(corpus: GraftTable, idCol: String,
      sigIndex: GraftTable, ivfIndex: Option[GraftTable] = None,
      fpIndex: Option[GraftTable] = None,
      spanIndex: Option[GraftTable] = None)
      : (Long, Long, Long, Long) = {
    val liveIds = corpus.toDF.select(col(idCol))
    val ivfN = ivfIndex.map(VectorOps.expireFromIvfIndex(_, liveIds))
      .getOrElse(0L)
    // the fingerprint index is an (id → fp) PK table — the sig-index
    // expiry (an anti-join -D upsert on the PK) applies verbatim
    val fpN = fpIndex.map(Dedup.expireFromSigIndex(_, liveIds))
      .getOrElse(0L)
    val spanN = spanIndex
      .map(graft.pipeline.TextOps.expireFromSpanIndex(_, liveIds))
      .getOrElse(0L)
    val sigN = Dedup.expireFromSigIndex(sigIndex, liveIds)
    (sigN, ivfN, fpN, spanN)
  }

  /** Bootstrap / catch-up driver: run a LARGE historical frame through
    * the same dedup pipeline in `batches` deterministic chunks
    * (hash(id) % batches — stable across reruns), sequentially, each
    * under `commitIdentifier = startBatchId + chunk`. Use to build the
    * corpus + index from history with the SAME semantics the stream then
    * continues with (earlier chunks win ties, exactly like earlier
    * micro-batches).
    *
    * Resume-safety: rerunning after a crash re-executes every chunk, but
    * chunks whose commits already landed are replay-filtered by both
    * tables, and the crashed chunk recomputes its survivor set against
    * the exact index state it saw the first time (later chunks never ran)
    * — state converges. Note the REPORTED stats of already-committed
    * chunks can differ on replay (their decisions recompute against a
    * more advanced index); the table state cannot.
    */
  def backfill(docs: DataFrame, idCol: String, textCol: String,
      corpus: GraftTable, index: GraftTable, batches: Int,
      threshold: Double = 0.7, commitUser: String = "backfill-dedup",
      startBatchId: Long = 0L, embed: Option[EmbedStage] = None)
      : Seq[BatchResult] = {
    require(batches > 0, s"batches must be positive: $batches")
    // a resumed backfill MUST reuse the original modulus: chunk contents
    // are hash(id) % batches but the replay filter keys on the chunk ID —
    // retrying with a different `batches` would replay-filter chunks whose
    // contents changed, silently losing documents. Pin the modulus on the
    // index the first time and hard-stop mismatched retries.
    val modKey = s"backfill.batches.$commitUser"
    index.schema.options.get(modKey) match {
      case Some(prev) => require(prev.toInt == batches,
        s"backfill '$commitUser' started with batches=$prev — resume with " +
          s"the same value (got $batches), or use a fresh commitUser")
      case None => index.setOption(modKey, batches.toString)
    }
    (0 until batches).map { b =>
      processBatch(
        docs.filter(pmod(xxhash64(col(idCol)), lit(batches)) === b),
        startBatchId + b, idCol, textCol, corpus, index, threshold,
        commitUser, embed)
    }
  }

  /** Attach the pipeline to a streaming frame of documents. Results of
    * each batch go to `onBatch` (default: a log line). Exactly-once across
    * restarts comes from `commitIdentifier = batchId` + the checkpointed
    * source offsets, same contract as the graft streaming sink.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
      corpus: GraftTable, index: GraftTable, checkpointDir: String,
      threshold: Double = 0.7, commitUser: String = "streaming-dedup",
      onBatch: BatchResult => Unit = r => (),
      embed: Option[EmbedStage] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(processBatch(batch, batchId, idCol, textCol, corpus, index,
          threshold, commitUser, embed))
      }
      .start()
}
