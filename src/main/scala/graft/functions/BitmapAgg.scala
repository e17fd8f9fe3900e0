package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.RoaringBitmap

/** Folds row positions into a serialized RoaringBitmap, executor-side.
  *
  * Used by deletion-vector writes: a broad DELETE aggregates matched
  * (file, position) pairs into one bitmap blob per file on the executors,
  * so the driver only ever sees O(files) bitmap bytes — never O(matched
  * rows) positions (reference: the reference builds its BitmapDeletionVector
  * maintenance distributed for the same reason).
  */
object BitmapAgg extends Aggregator[java.lang.Long, RoaringBitmap, Array[Byte]] {
  override def zero: RoaringBitmap = new RoaringBitmap()
  override def reduce(b: RoaringBitmap, pos: java.lang.Long): RoaringBitmap = {
    // positions are 32-bit in the bitmap; a file with >2^32 rows must fail
    // loudly here, not silently wrap and mark the wrong rows deleted
    require(pos >= 0L && pos <= 0xFFFFFFFFL, s"row position out of 32-bit range: $pos")
    b.add(pos.intValue()); b
  }
  override def merge(a: RoaringBitmap, b: RoaringBitmap): RoaringBitmap = {
    a.or(b); a
  }
  override def finish(b: RoaringBitmap): Array[Byte] = {
    b.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(b.serializedSizeInBytes())
    b.serialize(buf)
    buf.array()
  }
  override def bufferEncoder: Encoder[RoaringBitmap] = Encoders.kryo[RoaringBitmap]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  /** Column form: positions → serialized bitmap. */
  def collect(pos: Column): Column = udaf(BitmapAgg, Encoders.LONG).apply(pos)

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  def serialize(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  /** 64-bit (Roaring64NavigableMap) blob codec — the `rbm64` field
    * aggregator's value format (reference: FieldRoaringBitmap64Agg.java).
    */
  def deserialize64(bytes: Array[Byte]): org.roaringbitmap.longlong.Roaring64NavigableMap = {
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.deserialize(new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  def serialize64(bm: org.roaringbitmap.longlong.Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }
}
