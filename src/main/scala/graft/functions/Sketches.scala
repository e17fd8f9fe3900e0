package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Distinct-count sketches for the `hll_sketch` / `theta_sketch` field
  * aggregators (reference: paimon-common
  * `.../mergetree/compact/aggregate/FieldHllSketchAgg.java` and
  * `FieldThetaSketchAgg.java`, which merge serialized DataSketches blobs).
  *
  * The reference delegates to the DataSketches library; we implement the
  * public algorithms directly so the wire format is self-contained:
  *
  *  - HLL: HyperLogLog (Flajolet et al. 2007) with the small-range
  *    linear-counting correction of HLL++ (Heule et al. 2013). Dense
  *    layout, p = 12 → 4096 one-byte registers, ~1.6% relative error.
  *    Serialized as [p: 1 byte][2^p register bytes]; union = bytewise max,
  *    so merge is associative, commutative, and idempotent.
  *  - Theta: the KMV "keep the k minimum values" sketch (the core of the
  *    DataSketches theta family). k = 1024 sorted unsigned 64-bit hashes;
  *    below k the sketch is EXACT, beyond it estimates (k-1)/theta.
  *    Serialized as [k: 4][n: 4][n sorted longs], all big-endian.
  *
  * Both hash with XXH64 (same kernel as the MinHash signature expression),
  * so sketches are deterministic across runs and engines.
  *
  * Scale shape: writers pre-aggregate raw values into one sketch per key
  * (map-side combine in the Aggregator), the table's aggregation merge
  * engine unions the fixed-size blobs at compaction/read — the corpus is
  * never re-scanned to refresh a distinct count.
  */
object Sketches {

  // ---------------- HLL ----------------

  val HllP: Int = 12
  val HllM: Int = 1 << HllP
  private val HllAlphaM2: Double = (0.7213 / (1 + 1.079 / HllM)) * HllM.toDouble * HllM.toDouble

  def hllEmpty(): Array[Byte] = {
    val b = new Array[Byte](1 + HllM)
    b(0) = HllP.toByte
    b
  }

  /** Fold one hashed value into the register array (mutates). */
  def hllAdd(sketch: Array[Byte], value: Long): Unit = {
    val h = XXH64.hashLong(value, 77L)
    val idx = (h >>> (64 - HllP)).toInt
    val w = h << HllP
    val rho = if (w == 0) (64 - HllP + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    if ((sketch(1 + idx) & 0xFF) < rho) sketch(1 + idx) = rho.toByte
  }

  /** Union = bytewise register max; p must agree. */
  def hllMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a(0) == b(0), s"hll precision mismatch: ${a(0)} vs ${b(0)}")
    val out = a.clone()
    var i = 1
    while (i < out.length) {
      if ((b(i) & 0xFF) > (out(i) & 0xFF)) out(i) = b(i)
      i += 1
    }
    out
  }

  def hllEstimate(sketch: Array[Byte]): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 1
    while (i < sketch.length) {
      val r = sketch(i) & 0xFF
      sum += 1.0 / (1L << r).toDouble
      if (r == 0) zeros += 1
      i += 1
    }
    val raw = HllAlphaM2 / sum
    if (raw <= 2.5 * HllM && zeros > 0) HllM * math.log(HllM.toDouble / zeros)
    else raw
  }

  // ---------------- Theta (KMV) ----------------

  val ThetaK: Int = 1024

  /** [k: 4][n: 4][n sorted unsigned longs], big-endian. */
  def thetaSerialize(hashes: Array[Long]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(8 + hashes.length * 8)
    buf.putInt(ThetaK).putInt(hashes.length)
    hashes.foreach(buf.putLong)
    buf.array()
  }

  def thetaDeserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val k = buf.getInt
    require(k == ThetaK, s"theta k mismatch: $k vs $ThetaK")
    Array.fill(buf.getInt)(buf.getLong)
  }

  /** Distinct-union two sorted unsigned hash sets, keep the k smallest. */
  def thetaMergeHashes(a: Array[Long], b: Array[Long]): Array[Long] = {
    val merged = new Array[Long](math.min(a.length + b.length, ThetaK))
    var i = 0; var j = 0; var o = 0
    while (o < merged.length && (i < a.length || j < b.length)) {
      val take =
        if (i >= a.length) { val v = b(j); j += 1; v }
        else if (j >= b.length) { val v = a(i); i += 1; v }
        else {
          val c = java.lang.Long.compareUnsigned(a(i), b(j))
          if (c < 0) { val v = a(i); i += 1; v }
          else if (c > 0) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v }
        }
      merged(o) = take; o += 1
    }
    if (o == merged.length) merged else java.util.Arrays.copyOf(merged, o)
  }

  def thetaEstimate(bytes: Array[Byte]): Double = {
    val hs = thetaDeserialize(bytes)
    if (hs.length < ThetaK) hs.length.toDouble
    else {
      // theta = (k-th smallest hash as UNSIGNED) / 2^64; estimate (k-1)/theta
      val kth = hs(ThetaK - 1)
      val norm =
        if (kth >= 0) kth.toDouble / math.pow(2, 64)
        else (kth.toDouble + math.pow(2, 64)) / math.pow(2, 64)
      (ThetaK - 1).toDouble / norm
    }
  }
}

/** Build an HLL sketch from raw LONG values — the writer-side
  * pre-aggregation (`Sketches.hllFromLongs(col)`).
  */
object HllFromLongsAgg extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Sketches.hllEmpty()
  override def reduce(b: Array[Byte], v: java.lang.Long): Array[Byte] = {
    if (v != null) Sketches.hllAdd(b, v)
    b
  }
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Sketches.hllMerge(a, b)
  override def finish(b: Array[Byte]): Array[Byte] = b
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def fromLongs(c: Column): Column = udaf(HllFromLongsAgg, Encoders.LONG).apply(c)
}

/** Build a theta (KMV) sketch from raw LONG values. */
object ThetaFromLongsAgg extends Aggregator[java.lang.Long, Array[Long], Array[Byte]] {
  override def zero: Array[Long] = Array.emptyLongArray
  override def reduce(b: Array[Long], v: java.lang.Long): Array[Long] =
    if (v == null) b
    else Sketches.thetaMergeHashes(b, Array(XXH64.hashLong(v, 99L)))
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    Sketches.thetaMergeHashes(a, b)
  override def finish(b: Array[Long]): Array[Byte] = Sketches.thetaSerialize(b)
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def fromLongs(c: Column): Column = udaf(ThetaFromLongsAgg, Encoders.LONG).apply(c)
}

private[graft] object ExpressionEncoders {
  val longArray: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Cardinality estimate of a serialized sketch blob as a native Catalyst
  * expression — scalar companions to the sketch aggregators above, keeping
  * the repo's no-UDF discipline (a `udf()` deserializes through Scala
  * reflection encoders per row; these evaluate inside whole-stage codegen
  * via a static call on the already-materialized bytes).
  */
case class HllEstimate(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hll_estimate needs binary, got ${other.sql}")
    }
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "hll_estimate"
  override def nullSafeEval(input: Any): Any =
    Sketches.hllEstimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.hllEstimate($c)")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): HllEstimate =
    copy(child = newChild)
}

case class ThetaEstimate(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"theta_estimate needs binary, got ${other.sql}")
    }
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "theta_estimate"
  override def nullSafeEval(input: Any): Any =
    Sketches.thetaEstimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.thetaEstimate($c)")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): ThetaEstimate =
    copy(child = newChild)
}

/** Column-level entry points for the estimate expressions. */
object SketchEstimates {
  import org.apache.spark.sql.graft.SparkShims
  def hllEstimate(c: Column): Column =
    SparkShims.column(HllEstimate(SparkShims.expr(c)))
  def thetaEstimate(c: Column): Column =
    SparkShims.column(ThetaEstimate(SparkShims.expr(c)))
}
