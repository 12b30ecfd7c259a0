package graft.sketch

import graft.hash.Murmur3x64
import java.nio.{ByteBuffer, ByteOrder}

/**
 * Count-Min sketch (Cormode, Muthukrishnan 2005) — companion frequency
 * sketch. Guarantee: estimate(x) >= true(x), and
 * estimate(x) <= true(x) + eps * N with probability 1 - delta, for
 * width = ceil(e / eps), depth = ceil(ln(1 / delta)).
 *
 * Row hashes derive Kirsch–Mitzenmacher-style from one Murmur3
 * x64_128 call per key: h_i = h0 + i * h1 (wrapping), matching the
 * 2-hash scheme the reference uses for its bloom bits
 * (`csrc/libbloom/bloom.c:288-328`). Merge = cellwise sum.
 */
final class CountMin(val depth: Int, val width: Int, val counts: Array[Long],
                     var total: Long) extends Serializable {

  def update(key: Array[Byte], inc: Long = 1L): Unit = update(key, 0, key.length, inc)

  @transient private var hsScratch: Array[Long] = _
  def update(key: Array[Byte], off: Int, len: Int, inc: Long): Unit = {
    if (hsScratch == null) hsScratch = new Array[Long](2)
    Murmur3x64.hash128(key, off, len, 0L, hsScratch)
    val h0 = hsScratch(0)
    val h1 = hsScratch(1)
    var i = 0
    while (i < depth) {
      val h = h0 + i.toLong * h1
      val idx = java.lang.Long.remainderUnsigned(h, width.toLong).toInt
      counts(i * width + idx) += inc
      i += 1
    }
    total += inc
  }

  def estimate(key: Array[Byte]): Long = estimate(key, 0, key.length)

  def estimate(key: Array[Byte], off: Int, len: Int): Long = {
    if (hsScratch == null) hsScratch = new Array[Long](2)
    Murmur3x64.hash128(key, off, len, 0L, hsScratch)
    val h0 = hsScratch(0)
    val h1 = hsScratch(1)
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val h = h0 + i.toLong * h1
      val idx = java.lang.Long.remainderUnsigned(h, width.toLong).toInt
      val c = counts(i * width + idx)
      if (c < min) min = c
      i += 1
    }
    if (min == Long.MaxValue) 0L else min
  }

  def merge(other: CountMin): CountMin = {
    require(other.depth == depth && other.width == width, "CMS shape mismatch")
    var i = 0
    while (i < counts.length) {
      counts(i) += other.counts(i)
      i += 1
    }
    total += other.total
    this
  }

  /** eps such that over-estimate <= eps*N w.p. 1-delta */
  def epsilon: Double = math.E / width
  def delta: Double = math.exp(-depth.toDouble)

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 4 + 4 + 8 + 8 * counts.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(CountMin.Magic)
    bb.putInt(depth)
    bb.putInt(width)
    bb.putLong(total)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }
}

object CountMin extends SketchCodec[CountMin] {
  val name = "cms"
  def serialize(s: CountMin): Array[Byte] = s.serialize()
  def merge(a: CountMin, b: CountMin): CountMin = a.merge(b)

  final val Magic = 0x47434d53 // "GCMS"

  def create(depth: Int, width: Int): CountMin =
    new CountMin(depth, width, new Array[Long](depth * width), 0L)

  /** size from the published eps/delta guarantee */
  def forGuarantee(eps: Double, delta: Double): CountMin =
    create(math.ceil(math.log(1.0 / delta)).toInt.max(1),
      math.ceil(math.E / eps).toInt.max(2))

  def deserialize(bytes: Array[Byte]): CountMin = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad cms magic 0x$magic%08x")
    val d = bb.getInt()
    val w = bb.getInt()
    val total = bb.getLong()
    val counts = new Array[Long](d * w)
    var i = 0
    while (i < counts.length) { counts(i) = bb.getLong(); i += 1 }
    new CountMin(d, w, counts, total)
  }
}
