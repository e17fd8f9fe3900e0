package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator: rows shaped like the sf0.1 TPC-H-style test data
  * (orders, lineitem) and its documents/embeddings tables. The same seed
  * gives the same inputs; the engine sees only what is generated here.
  */
object Gen {
  val Statuses = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReturnFlags = Array("R", "A", "N")
  /** 1995-01-01 UTC, the first order date of the test data. */
  val Day0Ms = 788918400000L
  val DayMs = 86400000L
  /** Order dates span 1995-01-01 .. 2001-08-01, as in the test data. */
  val Days = 2404
  /** sf0.1 orders rows. */
  val SfOrders = 150000

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A generator for row `i` of a stream alone, so rows can be made in
    * parallel by Spark tasks and again, identically, on the driver.
    */
  def rngAt(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(rng(seed, stream).split().nextLong() ^ (i * 0xBF58476D1CE4E5B9L))

  def ts(day: Int): Timestamp = new Timestamp(Day0Ms + day * DayMs)

  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      day: Int, priority: String) {
    def row: Row = Row(key, cust, status, cents / 100.0, ts(day), priority)
    /** Logical (uncompressed, unencoded) size of the row in bytes. */
    def bytes: Long = 8 + 8 + status.length + 8 + 8 + priority.length
  }

  val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def order(r: SplittableRandom, key: Long): Order =
    Order(key, 1L + r.nextInt(15000), Statuses(r.nextInt(3)),
      100000L + r.nextLong(50000000L), r.nextInt(Days), Priorities(r.nextInt(5)))

  /** Order `key` of the initial load. */
  def orderAt(seed: Long, key: Long): Order = order(rngAt(seed, 1, key), key)

  /** The order-dimension row of `key`: priority and clerk. */
  def dimAt(seed: Long, key: Long): Row =
    Row(key, dimPriorityAt(seed, key), "Clerk#" + (1000000000L + rngAt(seed, 5, key).nextInt(1000)))

  def dimPriorityAt(seed: Long, key: Long): String = Priorities(rngAt(seed, 4, key).nextInt(5))

  val DimSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("d_priority", StringType), StructField("d_clerk", StringType)))

  final case class Item(orderKey: Long, partKey: Long, suppKey: Long, line: Int,
      qty: Double, priceCents: Long, discPct: Int, taxPct: Int, flag: String,
      status: String, day: Int) {
    def row: Row = Row(orderKey, partKey, suppKey, line, qty, priceCents / 100.0,
      discPct / 100.0, taxPct / 100.0, flag, status, ts(day))
    def bytes: Long = 8 + 8 + 8 + 4 + 8 + 8 + 8 + 8 + 1 + 1 + 8
  }

  val ItemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Line item `i` of `n` of the initial load, in ship-date order, so the
    * files of a date slice carry narrow `l_shipdate` stats.
    */
  def itemAt(seed: Long, i: Long, n: Long): Item =
    item(rngAt(seed, 2, i), SfOrders, (i * Days / n).toInt)

  def item(r: SplittableRandom, orderKeys: Int, day: Int): Item = {
    val qty = 1 + r.nextInt(50)
    Item(r.nextInt(orderKeys).toLong, 1L + r.nextInt(20000), 1L + r.nextInt(1000),
      1 + r.nextInt(7), qty.toDouble, qty * (90000L + r.nextInt(10000000)),
      r.nextInt(11), r.nextInt(9), ReturnFlags(r.nextInt(3)),
      if (r.nextBoolean()) "O" else "F", day)
  }

  // ---------------- documents and their embeddings ----------------

  val Dim = 64
  val Clusters = 10
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "xe", "za", "bri", "cho", "dra", "fle", "gru", "pha", "qua", "stu", "tro", "wy")

  /** 4000 pseudo-words, the same for every seed. */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(4000)(Array.fill(2 + r.nextInt(3))(Syllables(r.nextInt(Syllables.length))).mkString)
      .distinct
  }

  final case class Doc(id: Long, text: String, vec: Array[Double]) {
    def row: Row = Row(id, text, vec.toSeq)
    def bytes: Long = 8 + text.length + 8L * vec.length
  }

  val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("v", ArrayType(DoubleType))))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def centers(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 3)
    Array.fill(Clusters)(unit(Array.fill(Dim)(gaussian(r))))
  }

  /** A fresh document: 8..90 words (44..577 characters, like the test
    * data), a vector near one of the cluster centres.
    */
  def doc(r: SplittableRandom, id: Long, cs: Array[Array[Double]]): Doc = {
    val words = Array.fill(8 + r.nextInt(83))(Vocab(r.nextInt(Vocab.length)))
    val c = cs(r.nextInt(Clusters))
    Doc(id, words.mkString(" "), unit(c.map(_ + gaussian(r) * 0.25)))
  }

  /** A near duplicate of `d` under a new id: about one word in twenty
    * replaced, and the vector nudged.
    */
  def nearDup(r: SplittableRandom, id: Long, d: Doc): Doc = {
    val words = d.text.split(" ").map(w =>
      if (r.nextInt(20) == 0) Vocab(r.nextInt(Vocab.length)) else w)
    Doc(id, words.mkString(" "), unit(d.vec.map(_ + gaussian(r) * 0.002)))
  }
}
