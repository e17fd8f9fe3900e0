package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** Graft tables built from the driver's testdata parquet, used by
  * [[SparkEntry.queries]] (the correctness surface) and [[Bench]].
  *
  * Each fixture is built once per JVM in a private temp dir and cached —
  * several queries share one table, and Bench timings on read queries are
  * not polluted by table builds.
  */
object Fixtures {

  private lazy val base: String =
    java.nio.file.Files.createTempDirectory("graft-fixtures").toString

  private val cache = TrieMap.empty[String, GraftTable]

  private def key(sfDir: String, name: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "/" + name

  def src(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    // rejects; read nanos as long and truncate to microseconds (exactly what
    // engines with native ns support do when downcasting)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  private def build(spark: SparkSession, sfDir: String, name: String)(
      f: String => GraftTable): GraftTable =
    cache.getOrElseUpdate(key(sfDir, name), f(s"$base/${key(sfDir, name)}"))

  // ---------------- append tables ----------------

  /** lineitem as an append table partitioned by l_returnflag. */
  def lineitemAppend(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_append") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema, partitionKeys = Seq("l_returnflag"))
      t.append(df)
      t
    }

  /** lineitem z-order-clustered on (l_orderkey, l_partkey). */
  def lineitemZorder(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_zorder") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df)
      t.sortCompact(Seq("l_orderkey", "l_partkey"), "zorder")
      t
    }

  def lineitemHilbert(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_hilbert") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df)
      t.sortCompact(Seq("l_orderkey", "l_partkey"), "hilbert")
      t
    }

  /** lineitem with partition R dynamically overwritten (l_discount zeroed). */
  def lineitemOverwrite(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_overwrite") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema, partitionKeys = Seq("l_returnflag"))
      t.append(df)
      t.overwrite(df.filter(col("l_returnflag") === "R").withColumn("l_discount", lit(0.0)),
        dynamic = true)
      t
    }

  /** TRUNCATE lifecycle: load A-rows, truncate, load R-rows — the final
    * state must be exactly the post-truncate batch (W9 under the oracle).
    */
  def lineitemTruncated(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_truncated") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df.filter(col("l_returnflag") === "A"))
      t.truncate()
      t.append(df.filter(col("l_returnflag") === "R"))
      t
    }

  /** Schema-merge write (W11): a second batch arrives with an extra column;
    * the write widens the table schema and earlier rows read as null.
    */
  def ordersSchemaMerged(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_schema_merged") { path =>
      val df = src(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df.filter(col("o_orderkey") % 2 === 0))
      t.writeWithSchemaMerge(
        src(spark, sfDir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .filter(col("o_orderkey") % 2 === 1))
      t
    }

  /** Bloom-indexed append table (P6): sidecar bloom filters on l_orderkey
    * over several small files — the oracle checks the filter drops nothing.
    */
  def lineitemBloom(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_bloom") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("file-index.bloom.columns" -> "l_orderkey",
          "write-only" -> "true"))
      (0 until 4).foreach(i => t.append(df.filter(col("l_orderkey") % 4 === i)))
      t
    }

  /** embeddings as a graft table — ARRAY<FLOAT> round-trips the format, so
    * a vector corpus lives IN the table and ANN runs over the table scan.
    */
  def embeddingsGraft(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "embeddings_graft") { path =>
      val df = src(spark, sfDir, "embeddings")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df)
      t
    }

  /** MinHash signature index over the corpus split of documents
    * (doc_id % 10 != 0) — the persisted half of the incremental
    * cross-corpus dedup path ([[graft.pipeline.Dedup.buildSigIndex]]).
    */
  def docSigIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "doc_sig_index") { path =>
      val corpus = src(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0)
      graft.pipeline.Dedup.buildSigIndex(corpus, "doc_id", "text", path)
    }

  /** Window-hash span index over the corpus split of documents
    * (doc_id % 10 != 0) — the persisted half of the incremental
    * cross-corpus SPAN dedup ([[graft.pipeline.TextOps.buildSpanIndex]]).
    */
  def docSpanIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "doc_span_index") { path =>
      val corpus = src(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0)
      graft.pipeline.TextOps.buildSpanIndex(corpus, "doc_id", "text", path, n = 8)
    }

  /** Corpus table + signature index DEDICATED to the streaming dedup
    * ingest query (q120 appends to both — keep them off the shared doc
    * fixtures). Corpus = documents with doc_id % 10 != 0.
    */
  def streamDedupCorpus(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "stream_dedup_corpus") { path =>
      val corpus = src(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
      val t = GraftTable.create(spark, path, corpus.schema)
      t.append(corpus)
      t
    }

  def streamDedupIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "stream_dedup_index") { path =>
      val corpus = src(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
      graft.pipeline.Dedup.buildSigIndex(corpus, "doc_id", "text", path)
    }

  // ---- span-stage ingest (q142): own tables — processBatch mutates all
  // three (corpus append, sig upsert, span-index append) ----

  def spanIngestCorpus(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "span_ingest_corpus") { path =>
      val corpus = src(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
      val t = GraftTable.create(spark, path, corpus.schema)
      t.append(corpus)
      t
    }

  def spanIngestSigIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "span_ingest_sig_index") { path =>
      graft.pipeline.Dedup.buildSigIndex(
        src(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", path)
    }

  def spanIngestSpanIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "span_ingest_span_index") { path =>
      graft.pipeline.TextOps.buildSpanIndex(
        src(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", path, n = 8)
    }

  // ---- text+embedding ingest (q123): own tables — processBatch mutates them

  /** Corpus docs (doc_id % 10 != 0) with their embeddings as
    * `array<double>` — documents and embeddings are 1:1 by id.
    */
  def semanticDedupCorpusDf(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    src(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "text")
      .join(src(spark, sfDir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("v")), Seq("doc_id"))

  def semanticDedupCorpus(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "semantic_dedup_corpus") { path =>
      val corpus = semanticDedupCorpusDf(spark, sfDir).select("doc_id", "text")
      val t = GraftTable.create(spark, path, corpus.schema)
      t.append(corpus)
      t
    }

  def semanticDedupSigIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "semantic_dedup_sig_index") { path =>
      graft.pipeline.Dedup.buildSigIndex(
        semanticDedupCorpusDf(spark, sfDir), "doc_id", "text", path)
    }

  def semanticDedupIvfIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "semantic_dedup_ivf_index") { path =>
      graft.pipeline.VectorOps.buildIvfIndex(
        semanticDedupCorpusDf(spark, sfDir).select("doc_id", "v"),
        "doc_id", "v", path, numCentroids = 16)
    }

  /** Tonight's batch for the text+embedding ingest: the held-out docs
    * (doc_id % 10 == 0) with their embeddings, PLUS planted SEMANTIC
    * duplicates whose texts share no shingles (so the text stages cannot
    * catch them) but whose vectors are exactly colinear with an existing
    * one (cosine 1.0 — and colinear vectors share every LSH bucket and IVF
    * cell, so recall of the planted pair is structural, not probabilistic):
    *  - corpus twins: base doc_id % 50 == 1 (all in the corpus), new id =
    *    base + 1000, v = 1.01 × base v → dropped by the vs-corpus
    *    semantic check;
    *  - intra-batch twins: base doc_id % 100 == 0 (all in the batch), new
    *    id = base + 5000, v = 1.02 × base v → the larger id of the pair
    *    drops in the intra-batch semantic check.
    */
  def semanticDedupBatch(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val emb = src(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("v"))
    val natural = src(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      .join(emb, Seq("doc_id"))
    val corpusTwins = emb.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(lit("twin "), col("doc_id").cast("string")).as("text"),
        transform(col("v"), x => x * 1.01).as("v"))
    val intraTwins = emb.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(lit("pairtwin "), col("doc_id").cast("string")).as("text"),
        transform(col("v"), x => x * 1.02).as("v"))
    natural.unionByName(corpusTwins).unionByName(intraTwins)
  }

  /** lineitem under explicit split sizing + partition-sorted planning: many
    * small files whose splits are capped by open-file-cost. The options are
    * read-side only — the scan must return exactly the table.
    */
  def lineitemTinySplits(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_tiny_splits") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        partitionKeys = Seq("l_returnflag"),
        options = Map(
          "write-only" -> "true",
          "source.split.target-size" -> "4mb",
          "source.split.open-file-cost" -> "1mb",
          "scan.plan-sort-partition" -> "true"))
      (0 until 4).foreach(i => t.append(df.filter(col("l_orderkey") % 4 === i)))
      t
    }

  /** pk orders with per-LSM-level codecs: snappy L0 runs compacted into a
    * zstd max-level base — reads span both codecs transparently.
    */
  def ordersPerLevelCodec(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_per_level_codec") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("bucket" -> "4", "write-only" -> "true",
          "file.compression.per.level" -> s"0:snappy,${GraftTable.MaxLevel}:zstd"))
      t.upsert(df)
      t.compact()
      t
    }

  /** Corpus frame for the PERCEPTUAL ingest (q132): held-in docs with a
    * block-pattern PNG per doc (seed = doc_id, all patterns distinct) and
    * SYNTHETIC per-doc texts (one shingle each, all distinct — the text
    * stages drop nothing, so the query isolates the perceptual stage;
    * natural testdata texts contain near-dup families that would also
    * fire the text checks).
    */
  def perceptualCorpusDf(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.Multimodal.renderBlockPngs(
      src(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") < 300)
        .select(col("doc_id"),
          concat(lit("perceptual corpus doc "),
            col("doc_id").cast("string")).as("text"),
          lit(90).as("w"), lit(80).as("h"), col("doc_id").as("seed")),
      "w", "h", "seed")
      .select(col("doc_id"), col("text"), col("content").as("img"))

  def perceptualCorpus(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "perceptual_corpus") { path =>
      val corpus = perceptualCorpusDf(spark, sfDir).select("doc_id", "text")
      val t = GraftTable.create(spark, path, corpus.schema)
      t.append(corpus)
      t
    }

  def perceptualSigIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "perceptual_sig_index") { path =>
      graft.pipeline.Dedup.buildSigIndex(
        perceptualCorpusDf(spark, sfDir), "doc_id", "text", path)
    }

  def perceptualFpIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "perceptual_fp_index") { path =>
      graft.pipeline.Multimodal.buildFingerprintIndex(
        perceptualCorpusDf(spark, sfDir), "doc_id", "img", path,
        kind = "image")
    }

  /** Tonight's batch for the perceptual ingest: held-out docs with novel
    * patterns, PLUS planted perceptual twins whose TEXTS are unique (the
    * text stages cannot catch them) but whose images are re-renders of an
    * existing pattern at a different size/encoding:
    *  - corpus twins: base doc_id % 50 == 1 (all in the corpus), new id =
    *    base + 2000, image = the base pattern rendered at HALF size
    *    (45×40 — same dHash, different bytes) → dropped vs the fp index;
    *  - intra twins: base doc_id % 100 == 0 (all in the batch), new id =
    *    base + 6000, image = the base pattern JPEG-re-encoded → the
    *    larger id of the pair drops intra-batch.
    */
  def perceptualBatch(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import graft.pipeline.Multimodal
    def rendered(df: org.apache.spark.sql.DataFrame, w: Int, h: Int) =
      Multimodal.renderBlockPngs(
        df.select(col("doc_id"), col("text"),
          lit(w).as("w"), lit(h).as("h"), col("seed")), "w", "h", "seed")
        .select(col("doc_id"), col("text"), col("content").as("img"))
    val base = src(spark, sfDir, "documents").filter(col("doc_id") < 300)
    val natural = rendered(base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        concat(lit("perceptual batch doc "),
          col("doc_id").cast("string")).as("text"),
        col("doc_id").as("seed")), 90, 80)
    val corpusTwins = rendered(base.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(lit("imgtwin "), col("doc_id").cast("string")).as("text"),
        col("doc_id").as("seed")), 45, 40)
    val intraTwins = Multimodal.transcodeImages(
      rendered(base.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 6000).as("doc_id"),
          concat(lit("imgpair "), col("doc_id").cast("string")).as("text"),
          col("doc_id").as("seed")), 90, 80), "img", "jpeg")
    natural.unionByName(corpusTwins).unionByName(intraTwins)
  }

  /** Per-LSM-level FILE FORMATS: avro L0 runs over a parquet compacted
    * base; the final state mixes both formats in one live set, so the
    * oracle row proves mixed-format merge reads. */
  def ordersPerLevelFormat(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_per_level_format") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("bucket" -> "4", "write-only" -> "true",
          "file.format.per.level" -> s"0:avro,${GraftTable.MaxLevel}:parquet"))
      t.upsert(df)
      t.compact() // base → parquet
      t.upsert(ordersBatch2(spark, sfDir)) // fresh avro L0 on top
      t
    }

  /** rowkind.field applied through the BATCH upsert path (T9): a string op
    * column drives +I/+U/-D per row across two commits.
    */
  def ordersRowkindApplied(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_rowkind") { path =>
      val df = src(spark, sfDir, "orders").withColumn("op", lit("+I"))
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("rowkind.field" -> "op"))
      t.upsert(df)
      // CDC-shaped second commit: double prices for %3 keys (+U), drop %10
      // keys (-D) — kinds read from the column, not from an API parameter
      t.upsert(df.filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 10 === 0)
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "-D").otherwise("+U"))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 =!= 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice"))))
      t
    }

  // ---------------- primary-key tables over orders ----------------

  /** The canonical second batch: doubled prices for keys divisible by 7. */
  def ordersBatch2(spark: SparkSession, sfDir: String): DataFrame =
    src(spark, sfDir, "orders").filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)

  /** orders PK table: full batch then overlapping doubled batch (the SURVEY
    * §7.3 minimum slice).
    */
  def ordersPk(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t
    }

  /** Deletion-vector mode: same upsert+delete chain as the MOR tables, but
    * superseded rows are bitmap-masked and reads are raw + DV (no merge).
    */
  def ordersPkDv(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_dv") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("deletion-vectors.enabled" -> "true", "write-only" -> "true"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.delete(col("o_orderkey") % 13 === 0)
      t
    }

  /** PK table rescaled 2 → 8 buckets after its upsert chain: content must
    * be invariant under the layout rewrite.
    */
  def ordersPkRescaled(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_rescaled") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("bucket" -> "2", "write-only" -> "true"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.rescaleBucket(8)
      t
    }

  /** Both versions of the %7 keys inside ONE commit (original rows first,
    * doubled rows second) — proves deterministic intra-batch last-wins.
    */
  def ordersPkIntraBatch(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_intrabatch") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df.unionByName(ordersBatch2(spark, sfDir)))
      t
    }

  def ordersPkDeleted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_deleted") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.delete(col("o_orderstatus") === "F")
      t
    }

  /** PK table populated ONLY through [[graft.cdc.JsonCdcIngest]] batches —
    * the schema-evolving CDC ingest path (reference: paimon-flink-cdc sync
    * actions). Batch 0 inserts every order as a flat JSON frame; batch 1 is
    * a CDC batch with +U (totalprice doubled for keys %7) and -D (keys %11,
    * unless also %7) AND a NEW `channel` column appearing mid-stream, which
    * the ingest auto-adds via recursive schema merge (older rows null-fill).
    * Batch 1 is applied TWICE with the same (commitUser, batchId) — the
    * replayed epoch must be skipped by the exactly-once check, which the
    * oracle verifies by value (a double-applied epoch cannot hash-match).
    */
  def ordersCdcIngested(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_cdc_ingest") { path =>
      import graft.cdc.JsonCdcIngest
      val o = src(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val b0 = o.select(to_json(struct(col("*"), lit("+I").as("op"))).as("v"))
      val b1 = o.filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0)
        .select(to_json(struct(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          concat(lit("ch-"), col("o_orderkey") % 3).as("channel"),
          when(col("o_orderkey") % 7 === 0, lit("+U")).otherwise(lit("-D"))
            .as("op"))).as("v"))
      def apply(df: DataFrame, id: Long): Unit = JsonCdcIngest.applyBatch(
        spark, df, path, Seq("o_orderkey"), JsonCdcIngest.Envelope.Flat, "op",
        Map("bucket" -> "4"), "cdc-fixture", id)
      apply(b0, 0)
      apply(b1, 1)
      apply(b1, 1) // restart replay of the last epoch: must be a no-op
      GraftTable.load(spark, path)
    }

  /** Streaming round trip under the batch oracle: the full changelog of
    * [[ordersPkDeleted]] (two upserts + a PK -D delete) is streamed out
    * with Trigger.AvailableNow through the graft SOURCE and applied by the
    * graft SINK into a fresh PK table, replaying row kinds
    * (`rowkind.field = _row_kind`) and commit order
    * (`sequence.field = _sequence_number`). The sink's merged state must
    * equal the source's merged state — which the DuckDB oracle computes
    * independently. Converts the streaming path (S2/W10/T1/T3/T6) from
    * unit-grade to oracle-grade.
    */
  def ordersStreamRoundTrip(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_stream_rt") { path =>
      val srcT = ordersPkDeleted(spark, sfDir)
      val q = spark.readStream.format("graft")
        .option("path", srcT.store.rootPath.toString).load()
        .writeStream.format("graft")
        .option("path", path)
        .option("primary-keys", "o_orderkey")
        .option("rowkind.field", "_row_kind")
        .option("sequence.field", "_sequence_number")
        .option("checkpointLocation", path + "-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000), "AvailableNow stream did not terminate")
      GraftTable.load(spark, path)
    }

  /** Catalog bootstrap shared by fixtures that drive the DSv2 surface. */
  private def ensureCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  /** DSv2 streaming from a mid-chain timestamp: the source table takes a
    * full load plus two disjoint-key update commits with a captured
    * timestamp between commit 1 and 2; a readStream with READER-side
    * `scan.mode=from-timestamp` (through GraftMicroBatchStream) must
    * replay exactly the two later deltas into the sink.
    */
  def ordersStreamFromTimestamp(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_stream_from_ts") { path =>
      ensureCatalog(spark)
      val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tbl = s"graft.db.stream_ts_$tag"
      val orders = src(spark, sfDir, "orders")
      orders.createOrReplaceTempView(s"src_stream_ts_$tag")
      spark.sql(
        s"""CREATE TABLE $tbl (
           | o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
           |USING graft
           |TBLPROPERTIES ('primary-key' = 'o_orderkey', 'write-only' = 'true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_stream_ts_$tag") // snap 1
      Thread.sleep(50)
      val betweenTs = System.currentTimeMillis()
      Thread.sleep(50)
      spark.sql( // snap 2: doubled prices on keys % 7 == 0
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
           |  o_orderdate, o_orderpriority
           |FROM src_stream_ts_$tag WHERE o_orderkey % 7 = 0""".stripMargin)
      spark.sql( // snap 3: RUSH priority on the DISJOINT key set % 7 == 1
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, 'RUSH'
           |FROM src_stream_ts_$tag WHERE o_orderkey % 7 = 1""".stripMargin)
      val q = spark.readStream
        .option("scan.mode", "from-timestamp")
        .option("scan.timestamp-millis", betweenTs.toString)
        .table(tbl)
        .writeStream.format("graft")
        .option("path", path)
        .option("primary-keys", "o_orderkey")
        .option("checkpointLocation", path + "-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000), "AvailableNow stream did not terminate")
      GraftTable.load(spark, path)
    }

  /** DSv2 streaming with `scan.mode=compacted-full`: full state of the
    * latest COMPACT snapshot as the first batch, post-compaction deltas
    * after (reference: CoreOptions.StartupMode COMPACTED_FULL).
    */
  def ordersStreamCompactedFull(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_stream_compacted_full") { path =>
      ensureCatalog(spark)
      val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tbl = s"graft.db.stream_cf_$tag"
      val orders = src(spark, sfDir, "orders")
      orders.createOrReplaceTempView(s"src_stream_cf_$tag")
      spark.sql(
        s"""CREATE TABLE $tbl (
           | o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
           |USING graft
           |TBLPROPERTIES ('primary-key' = 'o_orderkey', 'write-only' = 'true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_stream_cf_$tag") // snap 1
      spark.sql( // snap 2: doubled prices on keys % 7 == 0
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
           |  o_orderdate, o_orderpriority
           |FROM src_stream_cf_$tag WHERE o_orderkey % 7 = 0""".stripMargin)
      val srcT = GraftTable.load(spark, s"$base/warehouse/db/stream_cf_$tag")
      srcT.compact() // snap 3: the compacted-full anchor
      spark.sql( // snap 4: post-compaction delta, disjoint key set
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, 'RUSH'
           |FROM src_stream_cf_$tag WHERE o_orderkey % 7 = 1""".stripMargin)
      val q = spark.readStream
        .option("scan.mode", "compacted-full")
        .table(tbl)
        .writeStream.format("graft")
        .option("path", path)
        .option("primary-keys", "o_orderkey")
        .option("checkpointLocation", path + "-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000), "AvailableNow stream did not terminate")
      GraftTable.load(spark, path)
    }

  /** Branch lifecycle under the oracle: a branch cut at snapshot 1
    * receives its own upsert; reading the branch must see snapshot-1 state
    * plus ONLY the branch commit (main's second upsert stays invisible).
    */
  def ordersBranched(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_branched") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir)) // diverges on MAIN only
      t.createBranch("audit", 1)
      t.branch("audit").upsert(df.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderpriority", lit("BRANCHED")))
      t
    }

  /** Consumer progress under the oracle: an AvailableNow stream registered
    * with a consumer-id drains the table twice (a fresh commit between the
    * runs); the durable consumer record is written when a batch is PLANNED
    * with the batch's exclusive start, so after the second drain it points
    * at the third snapshot — snapshots 1-2 are released for expiration
    * while the in-flight read range stays pinned.
    */
  def ordersConsumed(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_consumed") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("write-only" -> "true"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      def drain(): Unit = {
        val q = spark.readStream.format("graft")
          .option("path", path).option("consumer-id", "etl_main").load()
          .writeStream.format("noop")
          .option("checkpointLocation", path + "-consumer-ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(120000), "consumer stream did not terminate")
      }
      drain() // reads (0, 2] → pin 1
      t.upsert(ordersBatch2(spark, sfDir))
      drain() // reads (2, 3] → pin 3
      t
    }

  /** Snapshot watermarks from file stats (`watermark.column = ts`), two
    * commits — the recorded watermark per snapshot is max(ts) so far
    * (monotone carry-forward), checkable by the oracle in epoch-micros.
    */
  def eventsWatermarked(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "events_watermarked") { path =>
      val df = src(spark, sfDir, "events")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("watermark.column" -> "ts", "write-only" -> "true"))
      t.append(df.filter(col("event_id") % 2 === 0))
      t.append(df.filter(col("event_id") % 2 === 1))
      t
    }

  /** Computed columns (2.11) under the oracle: `hh`/`ts_day` are declared
    * in the table schema but ABSENT from the writer's frame — write-time
    * expressions (whole-stage codegen, no UDFs) fill them, the oracle
    * recomputes them in SQL.
    */
  def eventsComputed(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "events_computed") { path =>
      val df = src(spark, sfDir, "events").select("event_id", "ts", "user_id")
      val schema = df.schema
        .add("hh", IntegerType).add("ts_day", StringType)
      val t = GraftTable.create(spark, path, schema, options = Map(
        "computed-columns" -> "hh=hour(ts), ts_day=date_format(ts, 'yyyy-MM-dd')"))
      t.append(df)
      t
    }

  /** Append small-file compaction (C5) under the oracle: six small commits
    * bin-packed into target-size files; the rewrite must preserve every row
    * (oracle) and actually reduce the file count (hard require here, since
    * the oracle cannot see file counts).
    */
  def lineitemCompactedSmall(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_compact_small") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("write-only" -> "true"))
      (0 until 6).foreach(i => t.append(df.filter(col("l_orderkey") % 6 === i)))
      val before = t.system("files").count()
      t.compactSmallFiles()
      val after = t.system("files").count()
      require(after < before, s"append compaction must shrink files ($before -> $after)")
      t
    }

  /** Orphan cleanup (C9) under the oracle: a planted unreferenced data file
    * (mtime past the grace period) is removed while every live file — and
    * therefore every row, which is what the oracle checks — survives.
    */
  def ordersOrphanCleaned(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_orphans") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df)
      val junk = new java.io.File(new java.io.File(path, "data"), "orphan-0.parquet")
      java.nio.file.Files.write(junk.toPath, Array[Byte](0x50, 0x41, 0x52, 0x31))
      junk.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
      val removed = t.removeOrphanFiles()
      require(removed.exists(_.contains("orphan-0")) && !junk.exists(),
        s"planted orphan must be removed, got: $removed")
      t
    }

  /** Read limits (T5) under the oracle: a 3-commit source with
    * `read.max-rows-per-batch = 1` admits exactly one whole snapshot per
    * micro-batch (at least one is always admitted), so an AvailableNow
    * drain through the DSv2 stream produces one sink commit per source
    * snapshot — the sink's snapshot count IS the batch count.
    */
  def ordersReadLimited(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_read_limited_sink") { path =>
      val df = src(spark, sfDir, "orders")
      val wh = s"$base/${key(sfDir, "rl_wh")}"
      val srcPath = s"$wh/db/rl_src"
      val st = GraftTable.create(spark, srcPath, df.schema,
        options = Map("write-only" -> "true", "read.max-rows-per-batch" -> "1",
          // admission control applies to delta catch-up; latest-full would
          // collapse the backlog into one full first batch
          "scan.mode" -> "from-snapshot", "scan.snapshot-id" -> "1"))
      (0 until 3).foreach(i => st.append(df.filter(col("o_orderkey") % 3 === i)))
      // admission control lives in the DSv2 MicroBatchStream → readStream.table
      spark.conf.set("spark.sql.catalog.graft_rl",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_rl.warehouse", wh)
      val q = spark.readStream.table("graft_rl.db.rl_src")
        .writeStream.format("graft")
        .option("path", path)
        .option("checkpointLocation", path + "-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000), "read-limited stream did not terminate")
      GraftTable.load(spark, path)
    }

  /** Stream-static lookup join (J1) under the oracle: orders streamed
    * AvailableNow, enriched per micro-batch against a customer dimension
    * graft table (broadcast, per-batch snapshot resolution), landed in an
    * append sink whose final state the oracle recomputes as a plain join.
    */
  def ordersLookupEnriched(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_lookup_enriched") { path =>
      val dimPath = s"$base/${key(sfDir, "customer_dim")}"
      val dim = src(spark, sfDir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
      val dimT = GraftTable.create(spark, dimPath, dim.schema,
        primaryKeys = Seq("o_custkey"))
      dimT.upsert(dim)
      val srcPath = s"$base/${key(sfDir, "orders_lookup_src")}"
      val ordersSlim = src(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
      val srcT = GraftTable.create(spark, srcPath, ordersSlim.schema,
        options = Map("write-only" -> "true"))
      srcT.append(ordersSlim)
      val stream = spark.readStream.format("graft")
        .option("path", srcPath).load()
        .select("o_orderkey", "o_custkey")
      val joined = graft.streaming.LookupJoin
        .fresh(stream, spark, dimPath, Seq("o_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
      val q = joined.writeStream.format("graft")
        .option("path", path)
        .option("checkpointLocation", path + "-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000), "lookup-join stream did not terminate")
      GraftTable.load(spark, path)
    }

  /** Distinct-count sketch aggregation (A4 `hll_sketch`/`theta_sketch`):
    * writers pre-aggregate raw event ids into one sketch per user and the
    * table's aggregation merge engine unions the blobs across commits —
    * the reference's DataSketches workflow with self-contained sketches.
    */
  def eventsSketched(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "events_sketched") { path =>
      val df = src(spark, sfDir, "events")
      def batch(parity: Int): DataFrame =
        df.filter(col("event_id") % 2 === parity).groupBy("user_id").agg(
          graft.functions.HllFromLongsAgg.fromLongs(col("event_id")).as("uniq_hll"),
          graft.functions.ThetaFromLongsAgg.fromLongs(col("event_id")).as("uniq_theta"))
      val b1 = batch(0)
      val t = GraftTable.create(spark, path, b1.schema, primaryKeys = Seq("user_id"),
        options = Map("merge-engine" -> "aggregation",
          "fields.uniq_hll.aggregate-function" -> "hll_sketch",
          "fields.uniq_theta.aggregate-function" -> "theta_sketch"))
      t.upsert(b1)
      t.upsert(batch(1))
      t
    }

  /** `bucket-key` narrowed to a pk subset: routing, pruning, and joins all
    * hash o_custkey alone, so a custkey equality prunes to one bucket even
    * though the full (o_orderkey, o_custkey) pk is not pinned.
    */
  def ordersBucketKeyed(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_bucket_keyed") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey", "o_custkey"),
        options = Map("bucket-key" -> "o_custkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t
    }

  def ordersPkUpdated(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_updated") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.update(col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") + 10.0)))
      t
    }

  /** MERGE INTO: zero prices for %5 keys (matched), insert shifted copies of
    * those rows as new keys (not matched).
    */
  def ordersPkMerged(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_merged") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      val matchedSrc = df.filter(col("o_orderkey") % 5 === 0)
      val insertSrc = matchedSrc.withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      t.mergeInto(matchedSrc.unionByName(insertSrc),
          expr("s.o_orderkey = t.o_orderkey"))
        .whenMatchedUpdate(Map("o_totalprice" -> lit(0.0)))
        .whenNotMatchedInsertAll()
        .execute()
      t
    }

  /** first-row engine: modified %7 rows arrive FIRST, full batch second —
    * the first version must survive.
    */
  def ordersFirstRow(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_first_row") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("merge-engine" -> "first-row"))
      t.upsert(ordersBatch2(spark, sfDir))
      t.upsert(df)
      t
    }

  /** partial-update engine: batch 1 carries prices, batch 2 carries
    * priorities for %3 keys with NULL prices — non-null overlay.
    */
  def ordersPartialUpdate(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_partial") { path =>
      val df = src(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType, nullable = false),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderpriority", StringType)))
      val t = GraftTable.create(spark, path, schema, primaryKeys = Seq("o_orderkey"),
        options = Map("merge-engine" -> "partial-update"))
      t.upsert(df.withColumn("o_orderpriority", lit(null).cast(StringType)))
      t.upsert(df.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", lit(null).cast(DoubleType))
        .withColumn("o_orderpriority", lit("RUSH")))
      t
    }

  /** aggregation engine over events keyed by user: per-field sum / max /
    * min / last_value / listagg, versioned by sequence field event_id.
    */
  /** The events frame shaped for the aggregation engine (one aggregated
    * column per function) and its table options.
    */
  def eventsAggInput(spark: SparkSession, sfDir: String): DataFrame =
    src(spark, sfDir, "events").select(
      col("user_id"),
      col("event_id"),
      floor(col("value") * 100).cast(LongType).as("total_cents"),
      col("value").as("max_value"),
      col("ts").as("min_ts"),
      col("event_type").as("last_type"),
      col("event_type").as("types"),
      lit(1L).as("n"),
      array(struct(col("event_id").as("eid"), col("event_type").as("etype")))
        .as("recent"))

  val eventsAggOptions: Map[String, String] = Map(
    "merge-engine" -> "aggregation",
    "sequence.field" -> "event_id",
    "fields.total_cents.aggregate-function" -> "sum",
    "fields.max_value.aggregate-function" -> "max",
    "fields.min_ts.aggregate-function" -> "min",
    "fields.last_type.aggregate-function" -> "last_value",
    "fields.types.aggregate-function" -> "listagg",
    "fields.n.aggregate-function" -> "sum",
    "fields.recent.aggregate-function" -> "nested_update",
    "fields.recent.nested-key" -> "eid")

  def eventsAgg(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "events_agg") { path =>
      val df = eventsAggInput(spark, sfDir)
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("user_id"),
        options = eventsAggOptions)
      t.upsert(df)
      t
    }

  /** Aggregation-engine table over a compacted base plus two small hot
    * runs: maybeCompact() must take the RUN-SUBSET path (all field folds
    * associative, no retracts), leaving the max-level base untouched while
    * the merged read still equals the one-shot aggregation.
    */
  def eventsAggPartialCompact(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "events_agg_partial") { path =>
      val df = eventsAggInput(spark, sfDir)
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("user_id"),
        options = eventsAggOptions + ("num-sorted-run.compaction-trigger" -> "3"))
      // RANGE splits: the hot runs' sequence-field (event_id) ranges lie
      // strictly above the base's, so file stats prove the subset rewrite
      // re-folds in order
      val mx = df.agg(max("event_id")).collect()(0).getLong(0)
      val (cut1, cut2) = (mx * 8 / 10, mx * 9 / 10)
      t.upsert(df.filter(col("event_id") <= cut1))
      t.compact()
      t.upsert(df.filter(col("event_id") > cut1 && col("event_id") <= cut2))
      t.upsert(df.filter(col("event_id") > cut2))
      t.maybeCompact()
      t
    }

  /** Dynamic-bucket (`bucket = -1`) orders table: new keys arrive across
    * TWO commits (odd keys, then even keys) so the hash index grows buckets
    * incrementally, then the canonical doubled batch updates %7 keys —
    * routed through the index back to their original buckets.
    */
  def ordersPkDynamicBucket(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_dynbucket") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("bucket" -> "-1",
          "dynamic-bucket.target-row-num" -> "2000",
          "dynamic-bucket.assigner-parallelism" -> "4"))
      t.upsert(df.filter(col("o_orderkey") % 2 === 1))
      t.upsert(df.filter(col("o_orderkey") % 2 === 0))
      t.upsert(ordersBatch2(spark, sfDir))
      t
    }

  def ordersPkCompacted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_compacted") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.compact()
      t
    }

  /** Single-bucket PK table whose level-0 runs cover DISJOINT key ranges
    * (plus one overlapping update run): interval partitioning must plan
    * several independent merge sections for the one bucket.
    */
  def ordersPkSections(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_sections") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("bucket" -> "1"))
      t.upsert(df.filter(col("o_orderkey") <= 500))
      t.upsert(df.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
      t.upsert(df.filter(col("o_orderkey") > 1000))
      // overlaps only the first section
      t.upsert(ordersBatch2(spark, sfDir).filter(col("o_orderkey") <= 500))
      t
    }

  /** Hot bucket over a compacted base: full compact, then small hot runs —
    * maybeCompact() must rewrite only the upper runs (run-subset
    * compaction), leaving the max-level base untouched.
    */
  def ordersPkPartialCompact(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_partial_compact") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("num-sorted-run.compaction-trigger" -> "3"))
      t.upsert(df)
      t.compact()
      t.upsert(ordersBatch2(spark, sfDir))
      t.upsert(df.filter(col("o_orderkey") % 13 === 0),
        kinds = Some(lit(GraftMeta.KindDelete)))
      t.maybeCompact()
      t
    }

  def ordersPkRolledBack(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_rollback") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.rollbackTo(1)
      t
    }

  def ordersPkExpired(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_expired") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.compact()
      t.expireSnapshots(retainLast = 1)
      t
    }

  /** Pure-SQL path: the orders PK table built and maintained entirely
    * through the DSv2 catalog — CREATE TABLE, two INSERTs, nothing but SQL.
    * Returns the catalog-qualified table name.
    */
  /** Shared ANN recall fixture: (embeddings minus the query row) ∪ 20
    * synthetic near-copies `q + 0.05·v_i` of the query vector, ids offset
    * by 100000 — reproduced verbatim by the DuckDB oracle CTE.
    */
  def annRecallCorpus(spark: SparkSession, sfDir: String): (DataFrame, Seq[Double]) = {
    val emb = src(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0)
    val qArr = array(q.map(lit): _*)
    val synth = emb.filter(col("vec_id").between(1, 20))
      .select((col("vec_id") + 100000).as("vec_id"),
        zip_with(qArr, col("embedding").cast("array<double>"),
          (a, b) => a + lit(0.05) * b).as("embedding"))
    val corpus = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(synth)
    (corpus, q)
  }

  /** KNN-join recall fixture: 5 query vectors (embeddings 1–5) and a
    * corpus of all embeddings plus, per query, 20 deterministic
    * near-copies (qv + 0.05·v over embeddings 21–40, ids 100000·qid +
    * vec_id) — each query's true top-21 (its own corpus copy + the 20
    * planted copies, cos ≈ 0.999 ≫ the 0.44 natural max) is separable, so
    * the exact brute-force per-query ranking is a full-recall oracle for
    * the LSH-bucketed join.
    */
  def knnRecallCorpus(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val e = src(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qs = e.filter(col("vec_id").between(1, 5))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val synth = qs.crossJoin(e.filter(col("vec_id").between(21, 40)))
      .select((col("query_id") * 100000 + col("vec_id")).as("vec_id"),
        zip_with(col("qv"), col("v"), (a, b) => a + lit(0.05) * b).as("v"))
    (qs, e.unionByName(synth))
  }

  /** The KNN recall corpus persisted as a partition-per-cluster IVF index
    * (batch-query retrieval against the persisted index, q119).
    */
  def knnIvfIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "knn_ivf_index") { path =>
      val (_, corpus) = knnRecallCorpus(spark, sfDir)
      graft.pipeline.VectorOps.buildIvfIndex(corpus, "vec_id", "v", path,
        numCentroids = 16)
    }

  /** The KNN recall corpus as an IVF index built INCREMENTALLY: trained
    * and built on a corpus split, the rest folded in by
    * [[graft.pipeline.VectorOps.appendToIvfIndex]] (q121 — appended
    * vectors must route to the same cells the build would have put them
    * in, keeping retrieval exact on the separable fixture).
    */
  def knnIvfIndexIncremental(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "knn_ivf_index_incr") { path =>
      val (_, corpus) = knnRecallCorpus(spark, sfDir)
      val t = graft.pipeline.VectorOps.buildIvfIndex(
        corpus.filter(col("vec_id") % 3 =!= 0), "vec_id", "v", path,
        numCentroids = 16)
      graft.pipeline.VectorOps.appendToIvfIndex(
        t, corpus.filter(col("vec_id") % 3 === 0), "vec_id", "v")
      t
    }

  /** The KNN recall corpus as a SCALAR-QUANTIZED (SQ8) IVF index, built on
    * 2/3 of the corpus with the rest appended through the stored affine
    * params (q124 — quantized retrieval + exact rerank must return the
    * brute-force ranking on the separable fixture, and incremental SQ
    * appends must not change it).
    */
  def knnIvfSqIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "knn_ivf_sq_index") { path =>
      val (_, corpus) = knnRecallCorpus(spark, sfDir)
      val t = graft.pipeline.VectorOps.buildIvfSqIndex(
        corpus.filter(col("vec_id") % 3 =!= 0), "vec_id", "v", path,
        numCentroids = 16)
      graft.pipeline.VectorOps.appendToIvfSqIndex(
        t, corpus.filter(col("vec_id") % 3 === 0), "vec_id", "v")
      t
    }

  /** The KNN recall corpus as a PRODUCT-QUANTIZED (PQ) IVF index, built on
    * 2/3 of the corpus with the rest appended through the stored codebooks
    * (q147 — ADC retrieval + exact rerank must return the brute-force
    * ranking on the separable fixture, and incremental PQ appends must not
    * change it).
    */
  def knnIvfPqIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "knn_ivf_pq_index") { path =>
      val (_, corpus) = knnRecallCorpus(spark, sfDir)
      val t = graft.pipeline.VectorOps.buildIvfPqIndex(
        corpus.filter(col("vec_id") % 3 =!= 0), "vec_id", "v", path,
        numCentroids = 16, m = 8, codes = 64)
      graft.pipeline.VectorOps.appendToIvfPqIndex(
        t, corpus.filter(col("vec_id") % 3 === 0), "vec_id", "v")
      t
    }

  /** The recall corpus persisted as a partition-per-cluster IVF index. */
  def annIvfIndex(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "ann_ivf_index") { path =>
      val (corpus, _) = annRecallCorpus(spark, sfDir)
      graft.pipeline.VectorOps.buildIvfIndex(corpus, "vec_id", "embedding", path,
        numCentroids = 16)
    }

  /** The STANDARD partitioned PK layout (primary key contains the
    * partition key — the reference's required shape for fixed-bucket
    * partitioned tables): upserts route to (partition, bucket), merges are
    * partition-local, compaction rewrites per partition.
    */
  def ordersPkPartitioned(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_partitioned") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        partitionKeys = Seq("o_orderstatus"),
        primaryKeys = Seq("o_orderkey", "o_orderstatus"),
        options = Map("bucket" -> "4"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t.compact()
      t
    }

  /** upsert → compact → upsert: `scan.mode=compacted-full` must pin to the
    * state at the compaction (= the first batch), not the latest.
    */
  def ordersCompactedFull(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_compacted_full") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.compact()
      t.upsert(ordersBatch2(spark, sfDir))
      t
    }

  def sqlOrders(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft.db.orders_$tag"
    build(spark, sfDir, "sql_orders") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      spark.sql(
        s"""CREATE TABLE $tbl (
           | o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
           |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '8')""".stripMargin)
      src(spark, sfDir, "orders").createOrReplaceTempView(s"src_orders_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_orders_$tag")
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
           |  o_orderdate, o_orderpriority
           |FROM src_orders_$tag WHERE o_orderkey % 7 = 0""".stripMargin)
      // reuse the table-cache plumbing: load the underlying table
      GraftTable.load(spark, s"$base/warehouse/db/orders_$tag")
    }
    tbl
  }

  /** Dynamic INSERT OVERWRITE through SQL: a partitioned catalog table
    * loaded from lineitem, then partition 'R' replaced under
    * partitionOverwriteMode=dynamic with its discounts zeroed — other
    * partitions must survive untouched (q107 twin of the API-path q07).
    */
  def sqlDynamicOverwrite(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft.db.li_dyn_$tag"
    build(spark, sfDir, "sql_dynamic_overwrite") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      spark.sql(
        s"""CREATE TABLE $tbl (
           | l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
           | l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,
           | l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,
           | l_linestatus STRING, l_shipdate TIMESTAMP)
           |USING graft PARTITIONED BY (l_returnflag)""".stripMargin)
      src(spark, sfDir, "lineitem").createOrReplaceTempView(s"src_li_dyn_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_li_dyn_$tag")
      val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.sql(
          s"""INSERT OVERWRITE $tbl
             |SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             |  l_extendedprice, 0.0 AS l_discount, l_tax, l_returnflag,
             |  l_linestatus, l_shipdate
             |FROM src_li_dyn_$tag WHERE l_returnflag = 'R'""".stripMargin)
      } finally saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      GraftTable.load(spark, s"$base/warehouse/db/li_dyn_$tag")
    }
    tbl
  }

  /** lineitem as a catalog append table partitioned by l_returnflag — the
    * fixture for metadata-only aggregate pushdown (COUNT/MIN/MAX answered
    * from manifests through the DSv2 SQL path). Returns the table name.
    */
  /** nation written as ONE sorted file so the `__row_index` metadata
    * column is deterministic (= rank by sort key); read via the DSv2
    * catalog, which serves the metadata columns. Returns the table name.
    */
  def sqlNationRowIndexed(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft.db.nation_ri_$tag"
    build(spark, sfDir, "sql_nation_rowidx") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      val df = src(spark, sfDir, "nation")
      spark.sql(s"CREATE TABLE $tbl (${df.schema.toDDL}) USING graft")
      val t = GraftTable.load(spark, s"$base/warehouse/db/nation_ri_$tag")
      t.append(df.repartition(1).sortWithinPartitions("n_nationkey"))
      t
    }
    tbl
  }

  def sqlLineitem(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft.db.lineitem_$tag"
    build(spark, sfDir, "sql_lineitem") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      val df = src(spark, sfDir, "lineitem")
      spark.sql(
        s"""CREATE TABLE $tbl (${df.schema.toDDL})
           |USING graft PARTITIONED BY (l_returnflag)""".stripMargin)
      df.createOrReplaceTempView(s"src_lineitem_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_lineitem_$tag")
      GraftTable.load(spark, s"$base/warehouse/db/lineitem_$tag")
    }
    tbl
  }

  /** Two same-bucket-spec PK tables over orders, for the
    * storage-partitioned-join query: with
    * `spark.sql.sources.v2.bucketing.enabled` their pk equijoin plans with
    * ZERO exchanges (KeyGroupedPartitioning over GraftCatalog's bucket
    * function). Returns the two catalog table names.
    */
  def sqlSpjOrders(spark: SparkSession, sfDir: String): (String, String) = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val (t1, t2) = (s"graft.db.spj1_$tag", s"graft.db.spj2_$tag")
    build(spark, sfDir, "sql_spj_orders") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      src(spark, sfDir, "orders").createOrReplaceTempView(s"src_spj_$tag")
      spark.sql(
        s"""CREATE TABLE $t1 (o_orderkey BIGINT, o_totalprice DOUBLE)
           |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '8')""".stripMargin)
      spark.sql(s"INSERT INTO $t1 SELECT o_orderkey, o_totalprice FROM src_spj_$tag")
      spark.sql(
        s"""CREATE TABLE $t2 (o_orderkey BIGINT, o_orderpriority STRING)
           |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '8')""".stripMargin)
      spark.sql(s"INSERT INTO $t2 SELECT o_orderkey, o_orderpriority FROM src_spj_$tag")
      GraftTable.load(spark, s"$base/warehouse/db/spj1_$tag")
    }
    (t1, t2)
  }

  /** SQL row-level DML: the canonical orders table maintained through
    * `spark.sql` UPDATE / MERGE INTO statements (planned by Spark's
    * row-level rewrite). Returns the catalog table name.
    */
  def sqlOrdersDml(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft.db.orders_dml_$tag"
    build(spark, sfDir, "sql_orders_dml") { _ =>
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.spark.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", s"$base/warehouse")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      spark.sql(
        s"""CREATE TABLE $tbl (
           | o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
           |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '8')""".stripMargin)
      src(spark, sfDir, "orders").createOrReplaceTempView(s"src_orders_dml_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM src_orders_dml_$tag")
      // the canonical doubled batch, via SQL MERGE (matched-update only)
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT * FROM src_orders_dml_$tag WHERE o_orderkey % 7 = 0) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2""".stripMargin)
      // q16's update, via SQL UPDATE
      spark.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 10.0 WHERE o_orderstatus = 'O'")
      GraftTable.load(spark, s"$base/warehouse/db/orders_dml_$tag")
    }
    tbl
  }

  /** Deletion-vector table: lineitem append with DVs enabled, low
    * quantities deleted in place (no rewrite).
    */
  def lineitemDv(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_dv") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("deletion-vectors.enabled" -> "true"))
      t.append(df.repartition(8))
      t.delete(col("l_quantity") < 25)
      t
    }

  /** ORC-format append table over lineitem. */
  def lineitemOrc(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_orc") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("file.format" -> "orc"))
      t.append(df)
      t
    }

  /** Bucketed APPEND table (HASH_FIXED on a non-pk table): lineitem routed
    * by hash(l_orderkey) % 8 — bucket pruning + SPJ joins on append facts. */
  def lineitemAppendBucketed(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_append_bucketed") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("bucket-key" -> "l_orderkey", "bucket" -> "8"))
      t.append(df)
      t
    }

  /** Second bucketed append table on the same key/bucket spec, for the
    * storage-partitioned append-fact join. */
  def ordersAppendBucketed(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_append_bucketed") { path =>
      val df = src(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("bucket-key" -> "o_orderkey", "bucket" -> "8"))
      t.append(df)
      t
    }

  /** Avro-format append table (engine-native avro FileFormat). */
  def lineitemAvro(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_avro") { path =>
      val df = src(spark, sfDir, "lineitem")
      val t = GraftTable.create(spark, path, df.schema,
        options = Map("file.format" -> "avro"))
      t.append(df)
      t
    }

  /** Avro-format PK table: same two-batch upsert chain as [[ordersPk]], so
    * the MOR merge read runs over avro data files (seq/pos/kind columns and
    * all). */
  def ordersPkAvro(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_pk_avro") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("file.format" -> "avro", "write-only" -> "true"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir))
      t
    }

  /** Partial-update table with a read-time default for the priority. */
  /** Nested schema evolution: even-key rows written under schema 0
    * (info struct<price: float, st: string>), then rename st->status,
    * widen price to double and add prio INSIDE the struct, then odd-key
    * rows written under the evolved schema. The merged read must remap
    * old files' nested fields by child field id.
    */
  def ordersNestedEvolution(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_nested_evolution") { path =>
      val orders = src(spark, sfDir, "orders")
      val v0 = orders.select(col("o_orderkey"), struct(
        col("o_totalprice").cast(FloatType).as("price"),
        col("o_orderstatus").as("st")).as("info"))
      val t = GraftTable.create(spark, path, v0.schema)
      t.append(v0.filter(col("o_orderkey") % 2 === 0))
      t.renameColumn("info.st", "status")
      t.updateColumnType("info.price", DoubleType)
      t.addColumn("info.prio", StringType)
      val v1 = orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), struct(
          // float->double through the same widening the old files take
          col("o_totalprice").cast(FloatType).cast(DoubleType).as("price"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("prio")).as("info"))
      t.append(v1)
      t
    }

  /** Opaque-binary media column stored in a graft append table (the
    * multimodal storage convention: bytes + typed metadata travel the
    * table format; q108 decodes AFTER the round trip).
    */
  def mediaTable(spark: SparkSession, sfDir: String, rendered: DataFrame): DataFrame =
    build(spark, sfDir, "media_png") { path =>
      val t = GraftTable.create(spark, path, rendered.schema)
      t.append(rendered)
      t
    }.toDF

  def ordersDefaults(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_defaults") { path =>
      val df = src(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("merge-engine" -> "partial-update",
          "fields.o_orderpriority.default-value" -> "NONE"))
      t.upsert(df.withColumn("o_orderpriority", lit(null).cast(StringType)))
      t.upsert(df.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", lit(null).cast(DoubleType))
        .withColumn("o_orderpriority", lit("RUSH")))
      t
    }

  /** full-compaction changelog: compact, upsert the doubled batch, compact
    * again — the second compaction's changelog is the exact diff.
    */
  def ordersChangelog(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_changelog") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("changelog-producer" -> "full-compaction"))
      t.upsert(df)          // snapshot 1
      t.compact()           // snapshot 2 (+I changelog)
      t.upsert(ordersBatch2(spark, sfDir)) // snapshot 3
      t.compact()           // snapshot 4 (-U/+U changelog)
      t
    }

  /** `changelog-producer = lookup`: the -U/+U pairs come from the WRITE
    * commits themselves (pre-images looked up bucket-locally) — no
    * compaction in this fixture at all.
    */
  def ordersLookupChangelog(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_lookup_changelog") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("changelog-producer" -> "lookup"))
      t.upsert(df)                         // snapshot 1: +I changelog
      t.upsert(ordersBatch2(spark, sfDir)) // snapshot 2: -U/+U changelog
      t
    }

  /** Lookup-changelog table whose FIRST snapshot is expired under decoupled
    * changelog retention (`changelog.num-retained.max`): the preserved
    * changelog under changelog/ still serves the full replay (reference:
    * Changelog.java, ExpireChangelogImpl.java).
    */
  def ordersChangelogDecoupled(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_changelog_decoupled") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("changelog-producer" -> "lookup",
          "changelog.num-retained.max" -> "100"))
      t.upsert(df)                         // snapshot 1: +I changelog
      t.upsert(ordersBatch2(spark, sfDir)) // snapshot 2: -U/+U changelog
      t.expireSnapshots(retainLast = 1)    // snap 1 survives only as changelog
      t
    }

  /** `ignore-delete`: the second batch's -D records are dropped at write
    * time (CDC streams whose deletes must not reach the table), while its
    * +U records still apply.
    */
  def ordersIgnoreDelete(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_ignore_delete") { path =>
      val df = src(spark, sfDir, "orders").withColumn("op", lit("+I"))
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("rowkind.field" -> "op", "ignore-delete" -> "true"))
      t.upsert(df)
      val b2 = src(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 3 =!= 2)
        .withColumn("op", when(col("o_orderkey") % 3 === 0, "-D").otherwise("+U"))
        .withColumn("o_totalprice", when(col("o_orderkey") % 3 === 1,
          col("o_totalprice") * 3).otherwise(col("o_totalprice")))
      t.upsert(b2)
      t
    }

  /** Re-upsert of IDENTICAL rows on a lookup-changelog table: under the
    * reference default (`changelog-producer.row-deduplicate = false`) the
    * touched-but-unchanged keys still emit their -U/+U pair.
    */
  def ordersNoopChangelog(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_noop_changelog") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("changelog-producer" -> "lookup"))
      t.upsert(df)
      t.upsert(df.filter(col("o_orderkey") % 11 === 0)) // byte-identical rows
      t
    }

  /** PK table with record-level TTL (reference: io/RecordLevelExpire.java):
    * `rt` holds seconds-epoch INT — %5 keys carry a long-expired time, the
    * rest a far-future one (deterministic regardless of wall clock); batch 2
    * doubles %7 prices; the final full compaction drops the expired rows.
    */
  def ordersRecordExpire(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_record_expire") { path =>
      val rt = when(col("o_orderkey") % 5 === 0, lit(100))
        .otherwise(lit(2000000000)).cast("int")
      val df = src(spark, sfDir, "orders").withColumn("rt", rt)
      val t = GraftTable.create(spark, path, df.schema, primaryKeys = Seq("o_orderkey"),
        options = Map("record-level.expire-time" -> "30d",
          "record-level.time-field" -> "rt"))
      t.upsert(df)
      t.upsert(df.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      t.compact()
      t
    }

  /** Cross-partition PK table: partitioned by status, keyed by orderkey —
    * the second batch MOVES the %7 keys into partition 'X'.
    */
  def ordersCrossPartition(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_cross") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        partitionKeys = Seq("o_orderstatus"), primaryKeys = Seq("o_orderkey"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir).withColumn("o_orderstatus", lit("X")))
      t
    }

  /** Cross-partition PK table with `changelog-producer = lookup`: batch 2
    * MOVES the %7 keys into partition 'X', and the write-time changelog
    * must retract their OLD rows from their OLD partitions — the pre-image
    * read the persisted global pk index bounds (GraftTable
    * .crossPartitionPreImage).
    */
  def ordersCrossPartitionLookup(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_cross_lookup") { path =>
      val df = src(spark, sfDir, "orders")
      val t = GraftTable.create(spark, path, df.schema,
        partitionKeys = Seq("o_orderstatus"), primaryKeys = Seq("o_orderkey"),
        options = Map("changelog-producer" -> "lookup"))
      t.upsert(df)
      t.upsert(ordersBatch2(spark, sfDir).withColumn("o_orderstatus", lit("X")))
      t
    }

  /** Schema evolution: append nation, add a column, rename one, append again
    * under the evolved schema — old files remap by field id at read.
    */
  def nationEvolved(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "nation_evolved") { path =>
      val df = src(spark, sfDir, "nation")
      val t = GraftTable.create(spark, path, df.schema)
      t.append(df)
      t.addColumn("n_comment", StringType)
      t.renameColumn("n_name", "nation_name")
      t.append(df.withColumnRenamed("n_name", "nation_name")
        .withColumn("n_comment", lit("filled")))
      t
    }
}
