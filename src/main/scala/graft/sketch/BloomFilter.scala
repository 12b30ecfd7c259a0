package graft.sketch

import graft.hash.BloomHash
import java.nio.{ByteBuffer, ByteOrder}

/**
 * A flat, k-partitioned bloom filter with the reference's exact memory
 * layout (`csrc/libbloom/bloom.c:26-133`, `bloom.h:12-28`):
 *
 *  - `data(0..511)`  : header {magic=0xCB1005DD:u32 LE, k:u32 LE, count:u64 LE, pad}
 *  - bit `i`         : byte `i/8`, mask `0x80 >> (i%8)` (MSB-first,
 *                      `csrc/libbloom/bitmap.h:70-93`)
 *  - hash `j` of key sets bit `8*512 + j*m + (h_j mod_u64 m)` where
 *    `m = (bytes-512)*8 / k` — one disjoint partition per hash.
 *
 * Because bit-setting is idempotent and order-independent, the bit array
 * after inserting a key set is EXACTLY the bitwise OR of the bit arrays
 * of any partition of that key set — so distributed partial aggregation
 * + OR-merge reproduces the single-node reference filter bit-for-bit.
 * Only `count` (number of adds that saw at least one unset bit,
 * `bloom.c:105-133`) is order-dependent; merge sums it, giving an upper
 * bound on the sequential count. `estimateItems` gives the fill-ratio
 * cardinality estimate independent of merge order.
 *
 * The serialized form IS the reference's mmap file layout, so parity
 * tests can compare byte-for-byte.
 */
final class BloomFilter private (
    val data: Array[Byte],
    val kNum: Int,
    var count: Long) extends Serializable {

  /** usable bits (excludes header), `bloom.c:41` */
  val bitmapSize: Long = (data.length.toLong - BloomParams.HeaderSize) * 8L
  /** partition width, `bloom.c:64` */
  val offset: Long = bitmapSize / kNum

  @inline private def getBit(idx: Long): Int =
    (data((idx >>> 3).toInt) >> (7 - (idx & 7L).toInt)) & 1

  @inline private def setBit(idx: Long): Unit = {
    val b = (idx >>> 3).toInt
    data(b) = (data(b) | (1 << (7 - (idx & 7L).toInt))).toByte
  }

  /** true if all k partition bits are set (`bf_internal_contains`). */
  def contains(hashes: Array[Long]): Boolean = {
    val m = offset
    var i = 0
    while (i < kNum) {
      val bit = 8L * BloomParams.HeaderSize + i * m + java.lang.Long.remainderUnsigned(hashes(i), m)
      if (getBit(bit) == 0) return false
      i += 1
    }
    true
  }

  /** add; returns true if the key was new (`bf_add`). */
  def add(hashes: Array[Long]): Boolean = {
    if (contains(hashes)) return false
    val m = offset
    var i = 0
    while (i < kNum) {
      val bit = 8L * BloomParams.HeaderSize + i * m + java.lang.Long.remainderUnsigned(hashes(i), m)
      setBit(bit)
      i += 1
    }
    count += 1
    true
  }

  def containsKey(key: Array[Byte]): Boolean = {
    val hs = new Array[Long](math.max(kNum, 4))
    BloomHash.computeHashes(kNum, key, 0, key.length, hs)
    contains(hs)
  }

  def addKey(key: Array[Byte]): Boolean = addKey(key, 0, key.length)

  // reusable hash scratch: the aggregation hot path calls this once per
  // input row; a fresh Array[Long] per key would dominate GC at scale
  @transient private var hsScratch: Array[Long] = _
  private def hashScratch: Array[Long] = {
    if (hsScratch == null) hsScratch = new Array[Long](math.max(kNum, 4))
    hsScratch
  }

  def addKey(key: Array[Byte], off: Int, len: Int): Boolean = {
    val hs = hashScratch
    BloomHash.computeHashes(kNum, key, off, len, hs)
    add(hs)
  }

  def containsKey(key: Array[Byte], off: Int, len: Int): Boolean = {
    val hs = hashScratch
    BloomHash.computeHashes(kNum, key, off, len, hs)
    contains(hs)
  }

  /** In-place bitwise OR of another filter with identical shape. */
  def orInPlace(other: BloomFilter): BloomFilter = {
    require(other.kNum == kNum && other.data.length == data.length,
      s"shape mismatch: ($kNum,${data.length}) vs (${other.kNum},${other.data.length})")
    var i = BloomParams.HeaderSize
    val n = data.length
    val od = other.data
    while (i < n) {
      data(i) = (data(i) | od(i)).toByte
      i += 1
    }
    count += other.count
    this
  }

  /** Number of set bits in the bit region. */
  def bitsSet: Long = {
    var total = 0L
    var i = BloomParams.HeaderSize
    // count 8 bytes at a time
    while (i + 8 <= data.length) {
      var w = 0L
      var j = 0
      while (j < 8) { w = (w << 8) | (data(i + j) & 0xffL); j += 1 }
      total += java.lang.Long.bitCount(w)
      i += 8
    }
    while (i < data.length) { total += Integer.bitCount(data(i) & 0xff); i += 1 }
    total
  }

  /**
   * Order-independent cardinality estimate from the fill ratio:
   * n-hat = -(m/k) * ln(1 - X/m_total) with X = set bits over the whole
   * array, m_total = k*offset (standard partitioned-bloom estimator).
   */
  def estimateItems: Long = {
    val mTotal = (offset * kNum).toDouble
    val x = bitsSet.toDouble
    if (x >= mTotal) Long.MaxValue
    else math.round(-(mTotal / kNum) * math.log1p(-x / mTotal))
  }

  /** Serialize into the reference's exact file layout. */
  def serialize(): Array[Byte] = {
    writeHeader()
    data
  }

  def serializedCopy(): Array[Byte] = {
    writeHeader()
    java.util.Arrays.copyOf(data, data.length)
  }

  private def writeHeader(): Unit = {
    val bb = ByteBuffer.wrap(data, 0, 16).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(BloomParams.Magic)
    bb.putInt(kNum)
    bb.putLong(count)
  }

  def copyFilter(): BloomFilter =
    new BloomFilter(java.util.Arrays.copyOf(data, data.length), kNum, count)
}

object BloomFilter extends SketchCodec[BloomFilter] {
  val name = "bloom"
  def serialize(s: BloomFilter): Array[Byte] = s.serialize()
  def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.orInPlace(b)

  def create(params: BloomParams): BloomFilter = {
    require(params.bytes <= Int.MaxValue,
      s"single filter larger than 2GiB unsupported (bytes=${params.bytes}); split capacity across layers")
    require(params.bytes > BloomParams.HeaderSize, "bitmap too small")
    new BloomFilter(new Array[Byte](params.bytes.toInt), params.kNum, 0L)
  }

  def create(capacity: Long, fpProb: Double): BloomFilter =
    create(BloomParams.forCapacity(capacity, fpProb))

  /** Reads the reference mmap layout produced by [[BloomFilter#serialize]]. */
  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val bb = ByteBuffer.wrap(bytes, 0, 16).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == BloomParams.Magic, f"bad bloom magic 0x$magic%08x")
    val k = bb.getInt()
    val count = bb.getLong()
    new BloomFilter(bytes, k, count)
  }
}
