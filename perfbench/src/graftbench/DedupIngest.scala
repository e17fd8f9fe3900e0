package graftbench

import graft.pipeline.{Dedup, VectorOps}
import graft.streaming.StreamingDedup
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, length, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** dedup_ingest: micro-batches of documents through
  * `StreamingDedup.processBatch` in production mode (`trackCounts = false`),
  * with the semantic stage on, against a growing corpus, signature index and
  * IVF index. Each 50-document batch mixes fresh documents, exact re-ingests
  * of corpus documents (same id), exact copies under new ids, seeded near
  * duplicates of corpus documents and in-batch copies. After each batch the
  * client reads the corpus back (an aggregate, an id range, a word search)
  * and looks four batch ids up in the signature index.
  *
  * Checked after every batch: the batch admitted exactly its fresh
  * documents (every other one is a re-ingest, a copy or a near duplicate),
  * corpus ids and signature-index ids are the same set, corpus ids are
  * unique, the IVF index has a row per corpus document, no text is in the
  * corpus twice, and the read and the lookups agree with that state.
  */
final class DedupIngest(spark: SparkSession, rec: Recorder, ls: LayerStats, seed: Long)
    extends Workload {
  import DedupIngest._

  private val ops = new Ops(rec, ls)
  private val centers = Gen.centers(seed)
  private val r = Gen.rng(seed, 31)
  /** Every document generated, by id. */
  private val docs = mutable.ArrayBuffer.empty[Gen.Doc]
  locally {
    val ir = Gen.rng(seed, 32)
    (0 until InitialDocs).foreach(i => docs += Gen.doc(ir, i.toLong, centers))
  }
  private val initialIn = Inputs.stage(spark, "dedup_docs", docs.map(_.row).toSeq, Gen.DocSchema)

  private var dir: String = _
  private var corpus: GraftTable = _
  private var sig: GraftTable = _
  private var ivf: GraftTable = _
  private var written = 0L
  /** Corpus ids as of the last check: where re-ingests and copies come from. */
  private var corpusIds: IndexedSeq[Long] = IndexedSeq.empty
  /** Ids of the last batch's fresh documents: the ones it must admit. */
  private var freshIds: Set[Long] = Set.empty
  /** The round's reads: name, (rows, characters) read, and which corpus
    * documents the read should have seen.
    */
  private val reads = mutable.ArrayBuffer.empty[(String, Option[(Long, Long)], Long => Boolean)]
  private val lookups = mutable.ArrayBuffer.empty[(Long, Option[Option[Row]])]

  private val CorpusSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def setup(d: String): Unit = {
    dir = d
    val init = spark.read.parquet(initialIn)
    corpus = GraftTable.create(spark, s"$dir/corpus", CorpusSchema)
    corpus.append(init.select("doc_id", "text"))
    sig = Dedup.buildSigIndex(init, "doc_id", "text", s"$dir/sig")
    ivf = VectorOps.buildIvfIndex(init.select("doc_id", "v"), "doc_id", "v", s"$dir/ivf",
      numCentroids = Centroids)
  }

  override def afterSetup(): Unit = {
    written = 0L
    corpusIds = docs.map(_.id).toIndexedSeq
  }

  private def newDoc(): Gen.Doc = { val d = Gen.doc(r, docs.size.toLong, centers); docs += d; d }
  private def copyOf(d: Gen.Doc): Gen.Doc = { val c = d.copy(id = docs.size.toLong); docs += c; c }
  private def corpusDoc(): Gen.Doc = docs(corpusIds(r.nextInt(corpusIds.size)).toInt)

  def round(n: Int): Unit = {
    val fresh = Seq.fill(FreshDocs)(newDoc())
    val reingest = Seq.fill(Reingests)(corpusDoc()).distinctBy(_.id)
    val exactCopies = Seq.fill(ExactCopies)(copyOf(corpusDoc()))
    val near = Seq.fill(NearDups) {
      val d = Gen.nearDup(r, docs.size.toLong, corpusDoc()); docs += d; d
    }
    val inBatch = fresh.take(InBatchCopies).map(copyOf)
    val batch = shuffle(fresh ++ reingest ++ exactCopies ++ near ++ inBatch)
    freshIds = fresh.map(_.id).toSet
    written += batch.map(_.bytes).sum

    // the ingest batch: processBatch, then the read-your-writes read
    rec.batch {
      rec.op("commit", "processBatch") {
        val df = rec.span("spark", "frame")(
          spark.createDataFrame(batch.map(_.row).asJava, Gen.DocSchema))
        val res = rec.span("streaming", "processBatch")(StreamingDedup.processBatch(df, n.toLong,
          "doc_id", "text", corpus, sig, embed = Some(StreamingDedup.EmbedStage("v", ivf)),
          trackCounts = false))
        res.stageSecs.foreach { case (k, s) => ls.call(s"stage.$k", s * 1000) }
        ls.count("streaming.docs", batch.size)
      }
      read("corpus_agg", _ => true)(c => c)
    }

    // an id-range scan and a word search over the corpus
    val a = r.nextLong(docs.size.toLong)
    read("id_range", i => i >= a && i < a + RangeIds)(
      _.filter(col("doc_id") >= a && col("doc_id") < a + RangeIds))
    val word = Gen.Vocab(r.nextInt(Gen.Vocab.length))
    read("word", i => docs(i.toInt).text.contains(word))(_.filter(col("text").contains(word)))

    // "is this id ingested?" lookups in the signature index: two fresh docs
    // and a re-ingest (present), a near duplicate (absent)
    lookups.clear()
    Seq(fresh(0).id, fresh(1).id, reingest.head.id, near.head.id).foreach { id =>
      lookups += id -> rec.op("lookup", "sig")(rec.span("table", "lookup")(sig.lookup(Map("id" -> id))))
    }
  }

  /** (rows, characters) of the corpus rows `where` keeps. */
  private def read(name: String, seesId: Long => Boolean)(where: DataFrame => DataFrame): Unit =
    reads += ((name, rec.op("read", name) {
      ops.plan(corpus)
      val row = ops.collect(where(ops.toDF(corpus)).agg(count(lit(1)),
        coalesce(sum(length(col("text"))), lit(0L))))(0)
      (row.getLong(0), row.getLong(1))
    }, seesId))

  private def shuffle(xs: Seq[Gen.Doc]): Seq[Gen.Doc] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  override def checkRound(n: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val rows = corpus.toDF.select("doc_id", "text").collect()
    val ids = rows.map(_.getLong(0)).toIndexedSeq
    val idSet = ids.toSet
    if (idSet.size != ids.size) errs += s"corpus has ${ids.size - idSet.size} duplicate ids"
    val before = corpusIds.toSet
    val admitted = idSet -- before
    if (admitted != freshIds)
      errs += s"batch admitted ${admitted.size} docs, fresh ${freshIds.size}: " +
        s"fresh ids missing ${(freshIds -- admitted).toSeq.sorted.take(5)}, " +
        s"other ids admitted ${(admitted -- freshIds).toSeq.sorted.take(5)}"
    if (!before.subsetOf(idSet)) errs += s"${(before -- idSet).size} corpus docs vanished"
    val sigIds = sig.toDF.select("id").collect().map(_.getLong(0)).toSet
    if (sigIds != idSet)
      errs += s"signature index ids differ from corpus ids: " +
        s"${(sigIds -- idSet).size} extra, ${(idSet -- sigIds).size} missing"
    val ivfRows = ivf.toDF.count()
    if (ivfRows != ids.size) errs += s"IVF index has $ivfRows rows, corpus ${ids.size}"
    val texts = rows.map(_.getString(1)).distinct.length
    if (texts != ids.size) errs += s"corpus holds ${ids.size - texts} exact duplicate texts"
    reads.foreach { case (name, got, seesId) =>
      val seen = ids.filter(seesId)
      val want = (seen.size.toLong, seen.map(i => docs(i.toInt).text.length.toLong).sum)
      got.filter(_ != want).foreach(g => errs += s"read $name = $g, corpus $want")
    }
    reads.clear()
    lookups.foreach {
      case (id, Some(got)) if got.isDefined != idSet(id) =>
        errs += s"lookup($id) found=${got.isDefined}, in corpus=${idSet(id)}"
      case _ => ()
    }
    corpusIds = ids.sorted
    errs.toSeq
  }

  def checkFinal(): Seq[String] = Nil

  def tableDirs: Seq[String] = Seq("corpus", "sig", "ivf").map(t => s"$dir/$t")
  def pkTables: Seq[GraftTable] = Seq(sig)
  def planTable: GraftTable = corpus
  def roundBytesWritten: Long = written
  def liveUserBytes: Long = corpusIds.map(i => docs(i.toInt).bytes).sum
  def nominalRoundS: Double = 5.0
}

object DedupIngest {
  val InitialDocs = 1000
  val Centroids = 8
  val FreshDocs = 30
  val Reingests = 6
  val ExactCopies = 4
  val NearDups = 8
  val InBatchCopies = 2
  val RangeIds = 200L
}
