package graft.sketch

import graft.hash.BloomHash
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/**
 * Layered Bloom Filter — the reference's Rust-server per-filter
 * structure (`src/lbf.rs:8-113`, `src/main.rs:596-643`): a stack of
 * EQUAL-parameter bloom filters where a key's "value" is a
 * multiplicity count rather than Yes/No:
 *
 *  - `add`: insert into the first (oldest) layer NOT containing the
 *    key and return that 1-based layer index; if every layer contains
 *    it, append a fresh layer first (`main.rs:612-643`). So
 *    `set k -> 1, set k -> 2, check k -> 2`.
 *  - `count` (check): number of consecutive layers containing the key
 *    starting at layer 0 (`lbf.rs:74-89`).
 *  - `size`: count of layer 0 = number of distinct keys (`lbf.rs:91-98`).
 *
 * Distributed merge = per-layer bitwise OR (pad the shorter stack).
 * For a key set `a` times in one partial and `b` in another, layer
 * membership prefixes [0,a) and [0,b) union to [0,max(a,b)), so the
 * merged count is max(a,b) — within [max parts, total multiplicity],
 * the invariant the tests pin (SURVEY.md §7.3; exact per-key traces are
 * insertion-order-dependent even sequentially).
 */
final class LayeredBloom(
    val capacity: Long,
    val fpProbability: Double,
    var layers: ArrayBuffer[BloomFilter]) extends Serializable {

  private val params: BloomParams = BloomParams.forCapacity(capacity, fpProbability)

  // thread-confined scratch (see ScalableBloom.hashScratch: the shared
  // read path probes one instance from many threads) + hash-once: all
  // layers share one parameter set, and the Kirsch-Mitzenmacher ladder
  // is prefix-extendable, so ONE computeHashes serves every layer.
  // maxK cached across calls (invalidated on layer append/merge) so
  // the per-key path does no layer scan and no params math.
  @transient private var hsTL: ThreadLocal[Array[Long]] = _
  @volatile @transient private var cachedMaxK: Int = -1
  private def maxK: Int = {
    // <= 0: Java deserialization zeroes the transient, and kNum >= 1
    if (cachedMaxK <= 0) {
      var k = params.kNum
      var i = 0
      while (i < layers.length) { // restored layers may carry their own k
        if (layers(i).kNum > k) k = layers(i).kNum
        i += 1
      }
      cachedMaxK = k
    }
    cachedMaxK
  }
  private def ladder(key: Array[Byte], off: Int, len: Int): Array[Long] = {
    if (hsTL == null) hsTL = new ThreadLocal[Array[Long]]
    val k = maxK
    val need = math.max(4, k)
    var a = hsTL.get()
    if (a == null || a.length < need) { a = new Array[Long](need); hsTL.set(a) }
    BloomHash.computeHashes(k, key, off, len, a)
    a
  }

  /** multiplicity: consecutive containing layers from layer 0 */
  def count(key: Array[Byte]): Int = count(key, 0, key.length)

  def count(key: Array[Byte], off: Int, len: Int): Int = {
    val hs = ladder(key, off, len)
    var i = 0
    while (i < layers.length) {
      if (!layers(i).contains(hs)) return i
      i += 1
    }
    layers.length
  }

  /** add; returns the new multiplicity (1-based layer index used). */
  def add(key: Array[Byte]): Int = add(key, 0, key.length)

  def add(key: Array[Byte], off: Int, len: Int): Int = addCapped(key, off, len, 0L)

  /** add unless the key's multiplicity already reached `maxCount`
    * (0 = uncapped); ONE hash ladder serves the count walk, the
    * cap decision, and the insert — the aggregate's capped build pays
    * one Murmur+Spooky pass per row, not one per layer per phase. */
  def addCapped(key: Array[Byte], off: Int, len: Int, maxCount: Long): Int = {
    val hs = ladder(key, off, len)
    var c = 0
    while (c < layers.length && layers(c).contains(hs)) c += 1
    if (maxCount > 0 && c >= maxCount) return c
    if (c == layers.length) {
      layers += BloomFilter.create(params)
      cachedMaxK = -1
    }
    layers(c).add(hs)
    c + 1
  }

  /** distinct keys = size of layer 0 (`lbf.rs:91-98`) */
  def size: Long = if (layers.isEmpty) 0L else layers(0).count

  def numLayers: Int = layers.length

  def mergeInPlace(other: LayeredBloom): LayeredBloom = {
    require(other.capacity == capacity && other.fpProbability == fpProbability,
      "LBF param mismatch on merge")
    var i = 0
    while (i < other.layers.length) {
      if (i < layers.length) layers(i).orInPlace(other.layers(i))
      else layers += other.layers(i).copyFilter()
      i += 1
    }
    cachedMaxK = -1
    this
  }

  def serialize(): Array[Byte] = {
    val blobs = layers.map(_.serialize())
    val total = 4 + 8 + 8 + 4 + blobs.iterator.map(4 + _.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(LayeredBloom.Magic)
    bb.putLong(capacity)
    bb.putDouble(fpProbability)
    bb.putInt(blobs.length)
    blobs.foreach { blob =>
      bb.putInt(blob.length)
      bb.put(blob)
    }
    bb.array()
  }
}

object LayeredBloom extends SketchCodec[LayeredBloom] {
  val name = "lbf"
  def serialize(s: LayeredBloom): Array[Byte] = s.serialize()
  def merge(a: LayeredBloom, b: LayeredBloom): LayeredBloom = a.mergeInPlace(b)

  final val Magic = 0x474c4246 // "GLBF"

  def create(capacity: Long = 100000L, fpProb: Double = 1e-4): LayeredBloom =
    new LayeredBloom(capacity, fpProb, ArrayBuffer.empty)

  def deserialize(bytes: Array[Byte]): LayeredBloom = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad lbf magic 0x$magic%08x")
    val cap = bb.getLong()
    val p = bb.getDouble()
    val n = bb.getInt()
    val layers = ArrayBuffer.empty[BloomFilter]
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val blob = new Array[Byte](len)
      bb.get(blob)
      layers += BloomFilter.deserialize(blob)
      i += 1
    }
    new LayeredBloom(cap, p, layers)
  }
}
