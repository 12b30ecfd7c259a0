package graft.sketch

import graft.hash.Murmur3x64
import java.nio.{ByteBuffer, ByteOrder}

/**
 * HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007) with the
 * 64-bit-hash variant of the small-range correction (linear counting)
 * — the companion distinct-count sketch required by the north rule.
 * Standard error 1.04/sqrt(m), m = 2^precision registers.
 *
 * From scratch on our Murmur3 x64_128 (h0); Apache DataSketches is
 * used in tests only, as an independent oracle of the error bound.
 * Merge = per-register max — associative, commutative, idempotent.
 */
final class Hll(val precision: Int, val registers: Array[Byte]) extends Serializable {
  require(precision >= 4 && precision <= 18, s"precision $precision out of [4,18]")

  @inline private def m: Int = 1 << precision

  def update(key: Array[Byte]): Unit = update(key, 0, key.length)

  @transient private var hsScratch: Array[Long] = _
  def update(key: Array[Byte], off: Int, len: Int): Unit = {
    if (hsScratch == null) hsScratch = new Array[Long](2)
    Murmur3x64.hash128(key, off, len, 0L, hsScratch)
    updateHash(hsScratch(0))
  }

  def updateHash(h0: Long): Unit = {
    val idx = (h0 >>> (64 - precision)).toInt
    val rest = h0 << precision
    // rank = leading zeros of the remaining 64-p bits, +1; capped
    val rank = (java.lang.Long.numberOfLeadingZeros(rest | (1L << (precision - 1))) + 1)
      .min(64 - precision + 1)
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  def merge(other: Hll): Hll = {
    require(other.precision == precision, "HLL precision mismatch")
    var i = 0
    while (i < m) {
      if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  def estimate: Long = {
    val mm = m.toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / mm)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += math.pow(2.0, -registers(i))
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * mm * mm / sum
    val corrected =
      if (e <= 2.5 * mm && zeros > 0) mm * math.log(mm / zeros) // linear counting
      else e // 64-bit hash: no large-range correction needed
    math.round(corrected)
  }

  /** published relative standard error */
  def standardError: Double = 1.04 / math.sqrt(m.toDouble)

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + m).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Hll.Magic)
    bb.putInt(precision)
    bb.put(registers)
    bb.array()
  }
}

object Hll extends SketchCodec[Hll] {
  val name = "hll"
  def serialize(s: Hll): Array[Byte] = s.serialize()
  def merge(a: Hll, b: Hll): Hll = a.merge(b)

  final val Magic = 0x47484c4c // "GHLL"

  def create(precision: Int = 14): Hll = new Hll(precision, new Array[Byte](1 << precision))

  def deserialize(bytes: Array[Byte]): Hll = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad hll magic 0x$magic%08x")
    val p = bb.getInt()
    val regs = new Array[Byte](1 << p)
    bb.get(regs)
    new Hll(p, regs)
  }
}
