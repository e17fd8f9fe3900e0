package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale: MinHash + banded LSH, SimHash,
  * and exact n-gram Jaccard verification.
  *
  * Scale design: candidate generation is bucket-local — documents are only
  * ever compared when they collide in an LSH band bucket, so the join is
  * |buckets| × (bucket size choose 2), not |docs|², and each stage is a
  * plain shuffle on a band-bucket key. All hashing uses built-in
  * `xxhash64` (codegen'd); signatures are computed in one projection with
  * nested higher-order functions — no UDFs, no driver-side loops.
  */
object Dedup {

  /** The default MinHash family size. Referenced by [[nearDupPairs]]'s
    * default AND by ingest pipelines' shared-signature reuse gates
    * ([[graft.streaming.StreamingDedup]] only reuses a precomputed frame
    * when the index's family equals this), so the pairing is visible at
    * both sites and cannot silently drift apart.
    */
  val DefaultNumHashes = 64

  /** Word n-gram shingles of normalized text (distinct, order-free). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(grams)
  }

  /** Seed constant for the s-th minhash function: splitmix64 of s, computed
    * once at plan-build time (deterministic, no runtime RNG).
    */
  private def seedConst(s: Int): Long = {
    var z = s.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Derive the s-th hash from one base hash — codegen'd xxhash64 over the
    * (hash, seed) pair, no per-seed string hashing, ANSI-safe.
    */
  private def mix(h: Column, s: Int): Column = xxhash64(h, lit(seedConst(s)))

  /** MinHash signature: for each of `numHashes` derived hash functions, the
    * minimum hash over the shingle set (classic Broder sketch). One custom
    * codegen'd expression computes every slot in a single pass over the
    * hashed shingles (see [[graft.functions.MinHashSignature]] — ~10×
    * faster than the per-slot higher-order-function formulation, which is
    * CodegenFallback).
    */
  def minhashSignature(shingleSet: Column, numHashes: Int = 64): Column = {
    val base = transform(shingleSet, x => xxhash64(x))
    org.apache.spark.sql.graft.SparkShims.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graft.SparkShims.expr(base), numHashes))
  }

  /** Distinct 64-bit shingle hashes of a text column (the exact-Jaccard
    * verification basis: Jaccard over these equals string-shingle Jaccard
    * up to 64-bit collisions, ~2⁻⁴⁰ per corpus).
    */
  def shingleHashes(text: Column): Column =
    array_distinct(transform(shingles(text), x => xxhash64(x)))

  private def spread(df: DataFrame): DataFrame = PipelineUtil.spread(df)

  /** Per-document minhash signatures as one `numHashes`-slot array column,
    * computed in a single codegen'd projection (no shuffle — minhash is
    * per-row math) and lazily pinned so the downstream consumers (both
    * sides of the candidate self-join) share one computation without a
    * serializing materialization job. Only (id, 8·numHashes bytes) per
    * document is persisted — the heavyweight shingle-hash sets are NOT
    * stored; verification recomputes them for candidate ids only.
    */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame =
    PipelineUtil.pin(
      spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
        // two projections on purpose: the shingle-hash array materializes
        // ONCE per row, then ONE custom codegen'd expression computes every
        // signature slot in a single pass over it
        .select(col("id"), shingleHashes(col("text")).as("hs"))
        .select(col("id"), org.apache.spark.sql.graft.SparkShims.column(
          graft.functions.MinHashSignature(
            org.apache.spark.sql.graft.SparkShims.expr(col("hs")), numHashes)).as("sig")))

  /** One (id, band, bucket) row per document per band: band buckets are
    * codegen'd `hash` over signature slices — shared by the self-join
    * candidate path and the cross-corpus index path (identical hashing, so
    * fresh signatures and index-stored signatures bucket compatibly).
    */
  private def bandRows(sigsMat: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slots = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => element_at(col("sig"), s + 1))
      struct(lit(b).as("band"), hash(slots: _*).cast("long").as("bucket"))
    }
    sigsMat.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** Candidate pairs (idA < idB) from a [[sigFrame]]: candidates are a
    * bucket-local self-join of the [[bandRows]]. A degenerate bucket
    * (thousands of identical docs) produces its inherently-quadratic pairs
    * across distributed join tasks (AQE skew-join splits hot buckets)
    * instead of expanding structs in a single row.
    */
  private def candidatesFrom(sigsMat: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = bandRows(sigsMat, numHashes, bands)
    rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** SIGNATURE-AGREEMENT PREFILTER between LSH candidate generation and
    * the exact-Jaccard verify: each doc gets a 1-byte-per-slot digest of
    * its signature ([[graft.functions.MinHashSigBytes]], 64 B vs 520 B),
    * candidate pairs join to the digests and drop when the byte-agreement
    * fraction ([[graft.functions.ByteAgreement]] — an unbiased
    * slot-agreement estimate up to a +(1−J)/256 collision term) falls
    * below `cutoff`. Why: on templated corpora band buckets densify with
    * corpus size — measured at 100×: 500k docs → 18.7M candidates for 314
    * true pairs, and the shingle-set verify joins then dominate
    * end-to-end time (BASELINE.md §scaling). Nearly all such collisions
    * sit at est ≈ 0.1–0.2 and die here; a true pair at J = t under-reads
    * below the t − 5σ cutoff with probability ~3·10⁻⁷ (Binomial(64, t)
    * tail) — far below any oracle's flake floor. The digest frame is
    * O(docs)·~80 B and the joins move candidate IDS only, so the filter
    * costs ~nothing at small scale and collapses the quadratic tail at
    * large scale.
    */
  private def estFiltered(cands: DataFrame, sigsMat: DataFrame,
      numHashes: Int, cutoff: Double): DataFrame = {
    val sb = digestFrame(sigsMat)
    estFiltered2(cands, "id_a", "id_b", sb, sb, numHashes, cutoff)
  }

  /** 1-byte-per-slot signature digests of a sig frame (pinned — both join
    * sides of the prefilter share one computation).
    */
  private def digestFrame(sigs: DataFrame): DataFrame =
    PipelineUtil.pin(digestFrameUnpinned(sigs))

  /** Unpinned digest projection — for single-consumer sites (the
    * cross-corpus prefilter uses each side's digest exactly once, so a pin
    * there buys no reuse and costs a planning pass).
    */
  private def digestFrameUnpinned(sigs: DataFrame): DataFrame =
    sigs.select(col("id"),
      org.apache.spark.sql.graft.SparkShims.column(graft.functions.MinHashSigBytes(
        org.apache.spark.sql.graft.SparkShims.expr(col("sig")))).as("sb"))

  /** Two-sided prefilter core: join candidate pairs (keyed by `leftCol`,
    * `rightCol`) to per-side digest frames and keep pairs whose byte
    * agreement clears `cutoff` — shared by the self-join and the
    * cross-corpus paths so the estimator can never silently diverge.
    */
  private def estFiltered2(cands: DataFrame, leftCol: String, rightCol: String,
      sbLeft: DataFrame, sbRight: DataFrame,
      numHashes: Int, cutoff: Double): DataFrame = {
    val agree = org.apache.spark.sql.graft.SparkShims.column(
      graft.functions.ByteAgreement(
        org.apache.spark.sql.graft.SparkShims.expr(col("sb_a")),
        org.apache.spark.sql.graft.SparkShims.expr(col("sb_b"))))
    cands
      .join(sbLeft.toDF(leftCol, "sb_a"), leftCol)
      .join(sbRight.toDF(rightCol, "sb_b"), rightCol)
      .filter(agree.cast("double") / numHashes >= cutoff)
      .select(col(leftCol), col(rightCol))
  }

  /** Prefilter cutoff: t − 5σ of the slot-agreement estimator — may only
    * drop a true pair on a ~3e-7 binomial tail.
    */
  private def estCutoff(threshold: Double, numHashes: Int): Double =
    math.max(0.0,
      threshold - 5.0 * math.sqrt(threshold * (1 - threshold) / numHashes))

  /** Candidate near-dup pairs (idA < idB) via MinHash + banded LSH; see
    * [[sigFrame]] and [[candidatesFrom]] for the scale shape.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    candidatesFrom(sigFrame(df, idCol, textCol, numHashes), numHashes, bands)

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0).otherwise(
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** Near-dup pairs: LSH candidates verified by exact n-gram Jaccard ≥
    * threshold, computed over distinct shingle-HASH sets (identical to
    * string-shingle Jaccard up to 64-bit collisions, ~2⁻⁴⁰ per corpus).
    *
    * Scale shape: the corpus is shingled twice — once for the signature
    * projection (all docs, 8·numHashes bytes stored per doc) and once at
    * verify time for CANDIDATE docs only (semi-joined on the broadcast
    * candidate-id set). Storing the full shingle-hash sets instead would
    * roughly double the corpus footprint in block storage; recomputing
    * them for the (small) candidate subset is the cheaper trade at scale.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = DefaultNumHashes,
      bands: Int = 16,
      precomputedSigs: Option[(DataFrame, Int)] = None): DataFrame = {
    val src = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // precomputedSigs: a pinned (id, sig) frame and the numHashes it was
    // signed at (as [[sigFrameFor]] returns them), for a SUPERSET of df's
    // rows whose extra ids do not occur in df. A frame signed at another
    // family fails here. No restriction join is needed: a phantom id can
    // ride the candidate prefilter but can never reach the output —
    // verification recomputes shingle sets from df ITSELF and inner-joins
    // them by id, so pairs touching an id absent from df vanish there.
    // Signatures are a pure per-row function, so output is identical; the
    // caller saves a full re-shingle + re-sign pass per reuse (ingest
    // pipelines sign the same batch up to three times otherwise).
    val sigs = precomputedSigs.map(signedAt("nearDupPairs", numHashes, _))
      .getOrElse(sigFrame(df, idCol, textCol, numHashes))
    val cutoff = estCutoff(threshold, numHashes)
    // lazy pins: cands feeds both the id-set derivation and the final
    // verify join, sets feeds both sides of it — pin each so it computes
    // once, but WITHOUT eager barriers (stages overlap inside one job)
    val cands = PipelineUtil.pin(
      estFiltered(candidatesFrom(sigs, numHashes, bands), sigs, numHashes, cutoff))
    val ids = cands.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // ids ends in a distinct-shuffle, so AQE sees its true size and
    // broadcast-converts this join when the candidate set is small —
    // without risking a forced broadcast of a pathologically large one.
    val sets = PipelineUtil.pin(spread(src).join(ids, "id")
      .select(col("id"), shingleHashes(col("text")).as("hs")))
    cands
      .join(sets.toDF("id_a", "hs_a"), "id_a")
      .join(sets.toDF("id_b", "hs_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("hs_a"), col("hs_b")), 6).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /** EXACT n-gram Jaccard self-join (similarity ≥ threshold) via prefix
    * filtering (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW'07; the PPJoin family): two sets can reach Jaccard t only if the
    * first `|S| - ceil(t·|S|) + 1` elements of their canonically-sorted
    * shingle sets intersect, so pairs sharing ≥ 1 prefix token are a
    * GUARANTEED-recall candidate set — use this instead of MinHash LSH
    * when missing a near-dup is not acceptable. The companion length
    * filter (t·|B| ≤ |A| ≤ |B|/t) prunes size-incompatible pairs inside
    * the join condition.
    *
    * Scale shape: candidates are prefix-token-local (one shuffle on the
    * token), never all-pairs — but a REPLICATED corpus (many documents
    * sharing whole shingle sets) degenerates to quadratic candidate
    * volume that no prefix filter can cut, so the join guards itself: a
    * cheap per-token frequency aggregate upper-bounds the candidate
    * pairs (Σ over prefix tokens of c·(c−1)/2) and the launch fails
    * fast past `maxCandidatePairs` with a pointer to [[nearDupPairs]]
    * (the LSH path, whose banding keeps replicated corpora linear in
    * emitted DUPLICATES rather than candidate pairs). Set
    * `maxCandidatePairs = 0` to disable the guard when the quadratic
    * cost is a conscious choice.
    *
    * NOTE — this call is EAGER while the guard is on: the estimate runs
    * one aggregation job at call time, before the returned frame is ever
    * acted on (deliberately — the guard must fire BEFORE a caller's
    * action launches the quadratic join, and the job it runs warms the
    * same pinned shingle frame the verify join reuses). Callers composing
    * lazily into a larger plan who cannot tolerate the eager job should
    * pass `maxCandidatePairs = 0` and enforce their own budget.
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, maxCandidatePairs: Long = 100000000L): DataFrame = {
    val sets = PipelineUtil.pin(
      spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"), array_sort(shingleHashes(col("text"))).as("hs"))
        .select(col("id"), col("hs"), size(col("hs")).as("n")))
    val prefixLen = greatest(
      (col("n").cast("double") - ceil(col("n") * threshold) + 1).cast("int"), lit(1))
    val prefix = sets.select(col("id"), col("n"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("tok"))
    if (maxCandidatePairs > 0) {
      // one agg job over the slim (id, n, tok) frame — an upper bound
      // because the length filter and distinct only shrink the set
      val est = prefix.groupBy("tok").count()
        .select(sum((col("count") * (col("count") - 1) / 2).cast("long"))
          .as("pairs"))
        .collect()(0)
      val pairs = if (est.isNullAt(0)) 0L else est.getLong(0)
      require(pairs <= maxCandidatePairs,
        s"jaccardJoin: estimated candidate-pair volume $pairs exceeds " +
          s"maxCandidatePairs=$maxCandidatePairs — the corpus shares " +
          "prefix shingles too heavily for exact PPJoin (replicated " +
          "documents make it quadratic). Use nearDupPairs (MinHash LSH) " +
          "for guaranteed-linear near-dup detection, or raise " +
          "maxCandidatePairs (0 disables) to pay the quadratic cost " +
          "knowingly.")
    }
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("a.n") * threshold <= col("b.n") &&
          col("b.n") * threshold <= col("a.n"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("hs_a"), col("hs_b")), 6).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /** Connected components over a near-dup pair graph: every document that
    * appears in a pair is labeled with the SMALLEST id reachable through
    * dup edges (its cluster representative) — the cluster-keep-one
    * primitive of a dedup pipeline, strictly stronger than the greedy
    * edge rule of [[dropIds]] for transitive dup chains (a~b, b~c: greedy
    * keeps a and drops b,c; clustering agrees here, but also labels c
    * with a even when a~c was never emitted as a pair).
    *
    * Hash-min label propagation: each iteration joins labels across edges
    * and keeps the per-node minimum; iterate to fixpoint (checked), with
    * `localCheckpoint` truncating the growing plan lineage each round —
    * the standard shape for iterative DataFrame algorithms. Near-dup
    * clusters have tiny diameters (near-cliques), so convergence is a
    * handful of rounds even at corpus scale; each round is one join + one
    * aggregation on the (small) pair-graph node set, never the corpus.
    *
    * ONE Spark job per iteration: the previous label rides through the
    * aggregation as an `old` column, the checkpoint is lazy, and the
    * convergence count is the action that materializes it — so there is
    * no separate compare join/job per round (at 10⁹ edges a second full
    * job per round would double iteration cost).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    val idType = pairs.schema("id_a").dataType
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // every node appears exactly once on the labels side, so max(old)
      // recovers its previous label (edge-side rows contribute null)
      val next = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("label"), lit(null).cast(idType).as("old"))
        .unionByName(labels.select(col("id"), col("label"), col("label").as("old")))
        .groupBy("id").agg(min("label").as("label"), max("old").as("old"))
        .localCheckpoint(eager = false)
      converged = next.filter(col("label") =!= col("old")).count() == 0
      labels = next.select("id", "label")
      iter += 1
    }
    require(converged, s"dup clustering did not converge in $maxIter rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** Documents to DROP so that each near-dup cluster keeps its smallest id
    * (greedy edge rule: drop the larger id of every qualifying pair —
    * deterministic and union-find-free; at 100 TB this is one aggregation
    * over the verified pair set).
    */
  def dropIds(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("drop_id")).distinct()

  /** Keep-one per near-dup cluster by QUALITY rather than smallest id: the
    * curation pattern "of each duplicate family, train on the best copy".
    * Clusters come from [[dupClusters]] over the pair graph; each document
    * joins its cluster label (docs in no pair are their own singleton
    * cluster), and the top row per cluster by (`scoreCol` desc, id asc —
    * the deterministic tiebreak) survives with all its columns.
    *
    * Scale shape: label propagation rides the pair graph (O(dups), not
    * O(corpus)); the label join broadcasts when the dup set is small; the
    * per-cluster argmax is a map-side window group limit.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: Column,
      pairs: DataFrame): DataFrame = {
    val labels = dupClusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_rep"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__cluster")
      .orderBy(scoreCol.desc, col(idCol))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("cluster_rep"), col(idCol)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("cluster_rep", "__cluster", "__rk")
  }

  /** 64-bit SimHash of a pre-materialized token-hash array column: per bit
    * position, sign of the sum of (+1/-1) token-hash bits (Charikar
    * sketch). Static per-bit expressions — whole-stage codegen, no shuffle.
    */
  def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { i =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
      ) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Token-hash array used by [[simhashFromHashes]]. */
  def tokenHashes(text: Column): Column = {
    val toks = split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")
    transform(array_distinct(toks), t => xxhash64(t))
  }

  /** md5-derived 64-bit token hashes: two 32-bit halves of the digest packed
    * with shifts (no ANSI overflow). Slower than xxhash64 but reproducible
    * by an external SQL oracle — used by the oracle-checked simhash query.
    */
  def tokenHashesMd5(text: Column): Column = {
    val toks = split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")
    transform(array_distinct(toks), t => {
      val h = md5(t.cast("binary"))
      shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
    })
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ================= incremental / cross-corpus dedup =================
  // The highest-frequency production shape is NOT a corpus self-join but
  // "dedup tonight's crawl batch against the existing corpus". Persist the
  // corpus's minhash signatures ONCE as a graft PK table (id → sig,
  // ~8·numHashes bytes per doc — ~1000× smaller than the text); each new
  // batch then signatures ONLY ITSELF and band-joins against the index.
  // The corpus text is never re-shingled — it is read only for the
  // candidate ids that survive the prefilter, through an AQE-sized join.
  // The index being a PK table makes maintenance incremental too:
  // upserting a batch's signatures after ingest keeps it current, and a
  // re-crawled doc id simply replaces its signature.

  /** Create a persisted signature index for `df` at `path`: a graft PK
    * table (id → sig) bucketed by id, with the minhash parameters pinned in
    * the table options so every future batch hashes compatibly.
    */
  def buildSigIndex(df: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 64, bands: Int = 16, buckets: Int = 8): graft.table.GraftTable = {
    val sigs = sigFrame(df, idCol, textCol, numHashes)
    val t = graft.table.GraftTable.create(df.sparkSession, path, sigs.schema,
      primaryKeys = Seq("id"),
      options = Map("bucket" -> buckets.toString,
        "dedup.num-hashes" -> numHashes.toString, "dedup.bands" -> bands.toString))
    t.upsert(sigs)
    t
  }

  /** The (numHashes, bands) a signature index was built with. Fails fast
    * on a table without the options: hashing a batch with DEFAULT
    * parameters against an index built with different ones would band
    * incompatible signatures and silently miss every duplicate.
    */
  private def sigMeta(index: graft.table.GraftTable): (Int, Int) = {
    val nh = index.schema.option("dedup.num-hashes", "")
    require(nh.nonEmpty,
      s"table at ${index.location} is not a signature index: missing " +
        "'dedup.num-hashes' table option (build one with Dedup.buildSigIndex)")
    (nh.toInt, index.schema.option("dedup.bands", "16").toInt)
  }

  /** Fold a new batch's signatures into the index (upsert: a re-ingested
    * doc id replaces its signature). Call after the batch itself has been
    * deduped and admitted to the corpus.
    */
  def appendToSigIndex(index: graft.table.GraftTable, df: DataFrame,
      idCol: String, textCol: String, commitIdentifier: Long = -1L,
      commitUser: String = "",
      precomputedSigs: Option[(DataFrame, Int)] = None): Unit = {
    val (numHashes, _) = sigMeta(index)
    // precomputedSigs: ONLY valid when df's text is byte-identical to the
    // text the signatures were computed from (ingest pipelines that rewrite
    // text — e.g. a span-cut stage — must re-sign), AND when the frame was
    // signed at THIS index's family — a drifted family fails loud here
    // instead of silently committing incompatible signatures.
    val sigs = precomputedSigs match {
      case Some(p) =>
        signedAt(s"appendToSigIndex (index at ${index.location})", numHashes, p)
          .join(df.select(col(idCol).as("id")), "id")
          .select(col("id"), col("sig"))
      case None => sigFrame(df, idCol, textCol, numHashes)
    }
    index.upsert(sigs,
      commitIdentifier = commitIdentifier, commitUser = commitUser)
  }

  /** The signature frame of a (frame, numHashes) pair, required to be
    * signed at the family `numHashes` its consumer bands with: signatures
    * of another width band into wrong buckets and silently miss dups.
    */
  private def signedAt(consumer: String, numHashes: Int,
      precomputed: (DataFrame, Int)): DataFrame = {
    val (sigs, signed) = precomputed
    require(signed == numHashes,
      s"$consumer: precomputed signatures were signed at numHashes=$signed " +
        s"but it bands at numHashes=$numHashes — pass the pair sigFrameFor " +
        "returned for this family, or drop precomputedSigs")
    sigs
  }

  /** The per-document signature frame for `df` at `index`'s configured
    * numHashes — computed ONCE and shareable across [[nearDupPairs]],
    * [[nearDupPairsAgainst]] and [[appendToSigIndex]] via their
    * `precomputedSigs` parameter (each restricts it to its own input's
    * ids). Returns the frame plus the numHashes it was signed at, so a
    * caller can refuse the reuse when a consumer needs a different family
    * (signatures at different numHashes are incompatible).
    */
  def sigFrameFor(index: graft.table.GraftTable, df: DataFrame,
      idCol: String, textCol: String): (DataFrame, Int) = {
    val (numHashes, _) = sigMeta(index)
    (sigFrame(df, idCol, textCol, numHashes), numHashes)
  }

  /** Blocked Hamming-ball join of NEW sketches against a CORPUS sketch
    * frame (both two-column `(id, sk)`): the [[hammingBlockedPairs]]
    * pigeonhole keying, joined new × corpus instead of self — the batch
    * side is small and broadcasts; the corpus side is a column-pruned
    * index scan, never shuffled by content. Same-id pairs are excluded
    * (a re-ingest is itself, not a dup — the re-ingest guard owns that
    * case). Returns (new_id, corpus_id, hamming).
    */
  private[graft] def hammingBlockedPairsAgainst(newSk: DataFrame,
      corpusSk: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "5-block blocking guarantees completeness only for hamming <= 3")
    val widths = Seq(13, 13, 13, 13, 12)
    val offs = widths.scanLeft(0)(_ + _)
    def blockVal(j: Int): Column =
      shiftrightunsigned(col("sk"), offs(j)).bitwiseAND(lit((1L << widths(j)) - 1))
    val combos = for { i <- 0 until 5; j <- i + 1 until 5 } yield
      struct(lit(i * 5 + j).as("cb"), blockVal(i).as("v1"), blockVal(j).as("v2"))
    def keyed(df: DataFrame): DataFrame =
      df.select(col("id"), col("sk"), explode(array(combos: _*)).as("c"))
        .select(col("id"), col("sk"), col("c.cb"), col("c.v1"), col("c.v2"))
    // newSk is consumed exactly once (this join's build side) — no pin;
    // see candSets above for the single-consumer-pin rationale
    keyed(newSk).as("a")
      .join(keyed(corpusSk).as("b"),
        col("a.cb") === col("b.cb") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"),
        hamming(col("a.sk"), col("b.sk")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Expire signature-index entries whose id is NO LONGER in the corpus
    * (takedown/GDPR propagation — reference analog: `-D` rows flowing
    * through the deduplicate merge engine,
    * DeduplicateMergeFunction.java:31). `liveIds` is the corpus's id
    * column (one-column frame); every index row without a live id gets a
    * `-D` upsert — a distributed anti-join on the PK, O(index) scan and
    * O(expired) write, never a collect. Returns the number expired.
    *
    * Without this, a deleted corpus doc's stale signature (a) permanently
    * blocks the SAME doc from re-ingesting (the re-ingest guard keys on
    * index ids) and (b) makes vs-corpus text verification silently drop
    * candidates whose corpus text is gone.
    */
  def expireFromSigIndex(index: graft.table.GraftTable,
      liveIds: DataFrame): Long = {
    val live = liveIds.select(col(liveIds.columns.head).as("id"))
    val expired = index.toDF.join(live, Seq("id"), "left_anti").persist()
    try {
      val n = expired.count()
      if (n > 0) index.upsert(expired,
        kinds = Some(lit(graft.GraftMeta.KindDelete)))
      n
    } finally expired.unpersist()
  }

  /** Near-dup pairs of `newDf` AGAINST the indexed corpus: signatures are
    * computed for the new batch ONLY; the corpus side is the (id, sig)
    * index scan — banded into buckets by projection, never re-shingled.
    * `corpus` supplies document text for exact-Jaccard verification of the
    * surviving candidates (read via candidate-id joins — at 100 TB that is
    * an AQE broadcast of the candidate ids, not a corpus scan with text).
    * Returns (new_id, corpus_id, jaccard_sim), threshold-filtered.
    */
  def nearDupPairsAgainst(newDf: DataFrame, idCol: String, textCol: String,
      index: graft.table.GraftTable, corpus: DataFrame,
      threshold: Double = 0.7,
      precomputedSigs: Option[(DataFrame, Int)] = None): DataFrame = {
    val (numHashes, bands) = sigMeta(index)
    // precomputedSigs must be signed at THIS index's numHashes (see
    // [[sigFrameFor]]) for a superset of newDf whose extra ids do not
    // occur in newDf — phantom ids die at the verify join exactly as in
    // [[nearDupPairs]] (candSets reads text from newDf itself)
    val newSigs = precomputedSigs
      .map(signedAt(s"nearDupPairsAgainst (index at ${index.location})", numHashes, _))
      .getOrElse(sigFrame(newDf, idCol, textCol, numHashes)) // already pinned
    val corpusSigs = PipelineUtil.pin(index.toDF.select(col("id"), col("sig")))
    // band-bucket join, new × corpus: the new side is the small one — AQE
    // broadcast-converts it, so the corpus index scan is never shuffled.
    // A doc present in both sides under the same id is itself, not a dup.
    val cands = bandRows(newSigs, numHashes, bands).as("n")
      .join(bandRows(corpusSigs, numHashes, bands).as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket") &&
          col("n.id") =!= col("c.id"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
    // signature-agreement prefilter (the SAME estimator/cutoff as the
    // self-join path via estFiltered2; digests derive from stored sigs —
    // no text touched)
    val filtered = PipelineUtil.pin(estFiltered2(cands, "new_id", "corpus_id",
      digestFrameUnpinned(newSigs), digestFrameUnpinned(corpusSigs),
      numHashes, estCutoff(threshold, numHashes)))
    // exact verify: shingle sets for CANDIDATE docs only, per side. NOT
    // pinned: each side's set frame feeds exactly one verify join, so a
    // pin buys no reuse and costs a full planning pass (the r19
    // digestFrameUnpinned recipe)
    def candSets(src: DataFrame, ids: DataFrame) =
      spread(src.select(col(idCol).as("id"), col(textCol).as("text")))
        .join(ids, "id")
        .select(col("id"), shingleHashes(col("text")).as("hs"))
    val newSets = candSets(newDf,
      filtered.select(col("new_id").as("id")).distinct())
    val corpusSets = candSets(corpus,
      filtered.select(col("corpus_id").as("id")).distinct())
    filtered
      .join(newSets.toDF("new_id", "hs_a"), "new_id")
      .join(corpusSets.toDF("corpus_id", "hs_b"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        round(jaccard(col("hs_a"), col("hs_b")), 6).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /** SimHash near-dup candidate pairs, blocked on two-block combinations of
    * 5 sketch blocks (13/13/13/13/12 bits): a pair within Hamming distance 3
    * has ≥ 2 intact blocks, so it shares one of the C(5,2)=10 combo keys
    * (pigeonhole) — and each key spans ≥ 25 bits (~33M values), so chance
    * collisions stay rare at billions of docs, unlike 16-bit segments whose
    * 65k buckets go quadratic. Verified by full Hamming distance.
    *
    * @param md5Basis hash tokens with md5 (oracle-reproducible) instead of
    *                 xxhash64.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, md5Basis: Boolean = false): DataFrame = {
    require(maxHamming <= 3, "5-block blocking guarantees completeness only for hamming <= 3")
    val th = if (md5Basis) tokenHashesMd5(col("text")) else tokenHashes(col("text"))
    // per-row sketch projection, spread across cores and lazily pinned
    // (16 B/doc) so both sides of the blocked self-join share one
    // computation. Token hashes materialize in their own projection:
    // simhashFromHashes references the array 64× (once per bit) and
    // inlining the md5/xxhash tokenization into each would re-tokenize
    // the text per bit.
    hammingBlockedPairs(
      spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"), th.as("th"))
        .select(col("id"), simhashFromHashes(col("th")).as("sk")),
      maxHamming)
  }

  /** Blocked Hamming-ball self-join over 64-bit sketches `(id, sk)`: the
    * 5-block pigeonhole — ≤3 differing bits touch ≤3 of the 5 disjoint
    * 13/13/13/13/12-bit blocks, so at least one PAIR of blocks matches
    * exactly; keying every row by all 10 block-pair values makes the join
    * equality-only (bucket-local, never all-pairs), with exact Hamming as
    * the verify. Shared by [[simhashPairs]] (text) and
    * [[Multimodal.dHashPairs]] (perceptual image near-dup). Input is
    * lazily pinned: both sides of the self-join share one sketch
    * computation.
    */
  private[graft] def hammingBlockedPairs(skIn: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "5-block blocking guarantees completeness only for hamming <= 3")
    val sk = PipelineUtil.pin(skIn)
    val widths = Seq(13, 13, 13, 13, 12)
    val offs = widths.scanLeft(0)(_ + _)
    def blockVal(j: Int): Column =
      shiftrightunsigned(col("sk"), offs(j)).bitwiseAND(lit((1L << widths(j)) - 1))
    val combos = for { i <- 0 until 5; j <- i + 1 until 5 } yield
      struct(lit(i * 5 + j).as("cb"), blockVal(i).as("v1"), blockVal(j).as("v2"))
    val keyed = sk.select(col("id"), col("sk"), explode(array(combos: _*)).as("c"))
      .select(col("id"), col("sk"), col("c.cb"), col("c.v1"), col("c.v2"))
    keyed.as("a").join(keyed.as("b"),
        col("a.cb") === col("b.cb") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sk"), col("b.sk")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
