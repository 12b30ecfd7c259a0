package graft.sketch

import graft.hash.BloomHash
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/**
 * Scalable Bloom Filter (Almeida et al. 2007), re-expressed for
 * distributed aggregation. Sequential semantics follow the reference
 * (`csrc/libbloom/sbf.c:59-108,197-287`):
 *
 *  - rung `i` has capacity `init * scale^i` and fp budget
 *    `P0 * r^i` with `P0 = (1-r) * P` so the compound bound is
 *    `P <= P0 / (1-r) = P` (`sbf.c:265-272`)
 *  - `add`: global contains first (dup -> no-op), grow a rung when the
 *    newest is at capacity, insert into the newest
 *  - `contains`: OR over rungs; `size`: sum of rung counts
 *
 * Distributed merge (SURVEY.md §7.3): partials built from the same
 * params share the same deterministic rung ladder, so merge combines
 * per-rung. Two same-rung layers are bitwise-OR'd when their combined
 * count still fits the rung capacity (keeping that rung inside its fp
 * budget); otherwise both are kept as separate layers (concatenation),
 * which preserves membership exactly and keeps each layer inside its
 * own budget at the cost of extra compound fp headroom. The contract
 * matched against the reference is: zero false negatives, fp within
 * bound (with documented concat slack), size estimate within published
 * error — not the exact internal layer trace, which is
 * insertion-order-dependent even in the reference.
 *
 * The concat slack, quantitatively: a union check ORs layer fp rates,
 * so a merged sketch whose n keys all landed at rung 0 carries
 * fp ≈ ceil(n / cap0) * (1-r) * P — e.g. 40 * 0.1P = 4P at the bench's
 * 4M-keys-into-cap-100k shape (measured two-sided in AggSpec). A
 * distributed build that needs the NOMINAL P should size
 * initialCapacity near the expected build volume, which collapses the
 * merge to ~1 full layer; growth ladders are a SEQUENTIAL-insert
 * economy, not a distributed-merge one. Probe cost is insensitive to
 * the layer count (hash once, ~1 early-exit bit read per extra layer).
 */
final class ScalableBloom(
    val initialCapacity: Long,
    val fpProbability: Double,
    val scaleSize: Int,
    val probReduction: Double,
    // (rung, filter), ordered rung asc then count asc; multiple layers
    // per rung may exist after concat-merges
    var layers: ArrayBuffer[(Int, BloomFilter)]) extends Serializable {

  def rungCapacity(rung: Int): Long =
    (initialCapacity * math.pow(scaleSize, rung)).toLong

  def rungParams(rung: Int): BloomParams = {
    val p0 = (1 - probReduction) * fpProbability
    BloomParams.forCapacity(rungCapacity(rung), p0 * math.pow(probReduction, rung))
  }

  private def topRung: Int = if (layers.isEmpty) -1 else layers.last._1

  /** the insertion target: the newest (highest-rung, last) layer */
  private def activeFilter: BloomFilter = layers.last._2

  /** Materialize layer 0 eagerly — the reference daemon's create path
    * constructs the SBF with its first filter (`sbf.c` init), so
    * byte-size/list output is non-zero immediately after `create`. */
  def materialize(): this.type = { if (layers.isEmpty) grow(); this }

  private def grow(): Unit = {
    val next = topRung + 1
    layers += ((next, BloomFilter.create(rungParams(next))))
    cachedMaxK = -1
  }

  def contains(key: Array[Byte]): Boolean = contains(key, 0, key.length)

  // THREAD-CONFINED hash scratch: the catalog's read-locked check path
  // probes ONE instance from many wire threads concurrently — a shared
  // array would interleave two keys' ladders and return wrong answers
  // (including false negatives). ThreadLocal keeps the hot path
  // allocation-free per thread without any cross-thread sharing.
  @transient private var hsTL: ThreadLocal[Array[Long]] = _
  private def hashScratch: Array[Long] = {
    if (hsTL == null) hsTL = new ThreadLocal[Array[Long]]
    val need = maxK
    var a = hsTL.get()
    if (a == null || a.length < need) { a = new Array[Long](need); hsTL.set(a) }
    a
  }

  def contains(key: Array[Byte], off: Int, len: Int): Boolean = {
    if (layers.isEmpty) return false
    // ONE hash ladder serves every layer: computeHashes(k) is a prefix
    // of computeHashes(k') for k <= k' (Kirsch-Mitzenmacher ladder over
    // the same two base hashes, bloom.c:288-328), and each layer reads
    // only its own kNum prefix. Layer-heavy sketches (a wide
    // distributed build concat-merges many same-rung layers) therefore
    // pay hashing ONCE per key plus ~1 early-exit bit read per layer —
    // not one Murmur+Spooky pass per layer.
    val hs = hashScratch
    BloomHash.computeHashes(maxK, key, off, len, hs)
    var i = layers.length - 1 // newest-to-oldest like sbf_contains
    while (i >= 0) {
      if (layers(i)._2.contains(hs)) return true
      i -= 1
    }
    false
  }

  /** `sbf_add`: returns true if newly added. */
  def add(key: Array[Byte]): Boolean = add(key, 0, key.length)

  def add(key: Array[Byte], off: Int, len: Int): Boolean = {
    if (contains(key, off, len)) return false
    if (layers.isEmpty) grow()
    else if (activeFilter.count >= rungCapacity(topRung)) grow()
    val f = activeFilter
    val hs = hashScratch // re-fetch: grow() may have raised maxK
    BloomHash.computeHashes(f.kNum, key, off, len, hs)
    f.add(hs)
  }

  /** sum of per-layer counts (`sbf_size`) */
  def size: Long = layers.iterator.map(_._2.count).sum

  /** sum of rung capacities over layers (`sbf_total_capacity`) */
  def totalCapacity: Long = layers.iterator.map(l => rungCapacity(l._1)).sum

  /** sum of bitmap bytes (`sbf_total_byte_size`) */
  def totalByteSize: Long = layers.iterator.map(_._2.data.length.toLong).sum

  def numLayers: Int = layers.length

  @transient private var cachedMaxK: Int = -1
  private def maxK: Int = {
    // <= 0: Java deserialization zeroes the transient, and k >= 4 here
    if (cachedMaxK <= 0)
      cachedMaxK = math.max(4, if (layers.isEmpty) 4 else layers.iterator.map(_._2.kNum).max)
    cachedMaxK
  }

  /** Deep copy (layers included). */
  def copySketch(): ScalableBloom =
    new ScalableBloom(initialCapacity, fpProbability, scaleSize, probReduction,
      layers.map { case (r, f) => (r, f.copyFilter()) })

  /**
   * Merge another SBF built with identical params into this one.
   * CONSUMES both inputs (layer buffers may be adopted and mutated) —
   * matching Spark aggregate-merge semantics where the right buffer is
   * discarded. Use [[copySketch]] first if the input must survive.
   */
  def mergeInPlace(other: ScalableBloom): ScalableBloom = {
    require(other.initialCapacity == initialCapacity && other.fpProbability == fpProbability
      && other.scaleSize == scaleSize && other.probReduction == probReduction,
      "SBF param mismatch on merge")
    val pool = ArrayBuffer.empty[(Int, BloomFilter)]
    pool ++= layers
    pool ++= other.layers
    val merged = ArrayBuffer.empty[(Int, BloomFilter)]
    pool.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (rung, ls) =>
      val cap = rungCapacity(rung)
      // greedy: OR layers together while the summed count fits the rung
      // capacity; deterministic given the layer multiset (sort by count)
      val sorted = ls.map(_._2).sortBy(f => (f.count, f.bitsSet))
      val acc = ArrayBuffer.empty[BloomFilter]
      sorted.foreach { f =>
        acc.lastOption match {
          case Some(last) if last.count + f.count <= cap => last.orInPlace(f)
          case _ => acc += f
        }
      }
      acc.foreach(f => merged += ((rung, f)))
    }
    layers = merged
    cachedMaxK = -1
    this
  }

  def serialize(): Array[Byte] = {
    val blobs = layers.map { case (r, f) => (r, f.serialize()) }
    val total = 4 + 8 + 8 + 4 + 8 + 4 + blobs.iterator.map(b => 8 + b._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(ScalableBloom.Magic)
    bb.putLong(initialCapacity)
    bb.putDouble(fpProbability)
    bb.putInt(scaleSize)
    bb.putDouble(probReduction)
    bb.putInt(blobs.length)
    blobs.foreach { case (r, blob) =>
      bb.putInt(r)
      bb.putInt(blob.length)
      bb.put(blob)
    }
    bb.array()
  }
}

object ScalableBloom extends SketchCodec[ScalableBloom] {
  val name = "sbf"
  def serialize(s: ScalableBloom): Array[Byte] = s.serialize()
  def merge(a: ScalableBloom, b: ScalableBloom): ScalableBloom = a.mergeInPlace(b)

  final val Magic = 0x47534246 // "GSBF"

  /** reference defaults (`csrc/libbloom/sbf.h:30-41`) */
  def create(initialCapacity: Long = 100000L, fpProb: Double = 1e-4,
             scaleSize: Int = 4, probReduction: Double = 0.9): ScalableBloom =
    new ScalableBloom(initialCapacity, fpProb, scaleSize, probReduction, ArrayBuffer.empty)

  def deserialize(bytes: Array[Byte]): ScalableBloom = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad sbf magic 0x$magic%08x")
    val init = bb.getLong()
    val p = bb.getDouble()
    val scale = bb.getInt()
    val r = bb.getDouble()
    val n = bb.getInt()
    val layers = ArrayBuffer.empty[(Int, BloomFilter)]
    var i = 0
    while (i < n) {
      val rung = bb.getInt()
      val len = bb.getInt()
      val blob = new Array[Byte](len)
      bb.get(blob)
      layers += ((rung, BloomFilter.deserialize(blob)))
      i += 1
    }
    new ScalableBloom(init, p, scale, r, layers)
  }
}
