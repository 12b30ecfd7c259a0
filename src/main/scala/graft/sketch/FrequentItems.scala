package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/**
 * Misra–Gries frequent-items summary (Misra, Gries 1982), with the
 * mergeable-summaries combine step (Agarwal, Cormode, Huang, Phillips,
 * Wei, Yi, PODS 2012): k counters; an update to an untracked item
 * when the table is full decrements every counter (dropping zeros),
 * and a merge sums counters pointwise then subtracts the (k+1)-th
 * largest count from all survivors. Both operations maintain the
 * published deterministic guarantee for EVERY item x (tracked or not,
 * estimate(x) = 0 when untracked):
 *
 *   estimate(x) <= true(x) <= estimate(x) + error
 *
 * where `error` is tracked explicitly (decrement ops add 1, a merge
 * truncation adds the subtracted count) and is itself bounded by
 * n/(k+1): every decrement removes k+1 units of counted mass and a
 * truncation by c removes at least (k+1)*c, so
 * error <= (n - sum(counters))/(k+1) <= n/(k+1) under ANY merge tree
 * — the property that makes the summary safe for Spark's partial
 * aggregation, where merge order follows task completion order.
 *
 * Completeness corollary: any item with true(x) > error is tracked
 * (its estimate is >= true - error > 0), so heavy hitters above the
 * n/(k+1) threshold are never lost.
 *
 * Unlike the hashing sketches, the summary stores the ITEMS; exact
 * counter values depend on the merge order, so deterministic gates
 * must assert the guarantee booleans, not raw counters (serialization
 * sorts by key so equal content yields equal bytes).
 */
final class FrequentItems(val k: Int,
                          val counters: java.util.HashMap[String, Array[Long]],
                          var total: Long,
                          var error: Long) extends Serializable {
  require(k >= 1, "k must be >= 1")

  def update(key: String, inc: Long = 1L): Unit = {
    require(inc >= 0, "negative increment")
    total += inc
    val cell = counters.get(key)
    if (cell != null) cell(0) += inc
    else if (counters.size < k) counters.put(key, Array(inc))
    else {
      // decrement-all, `inc` times, but vectorized: subtracting
      // d = min(inc, min counter) settles all but a remainder
      var remaining = inc
      while (remaining > 0) {
        var minC = Long.MaxValue
        val it0 = counters.values().iterator()
        while (it0.hasNext) { val c = it0.next()(0); if (c < minC) minC = c }
        val d = math.min(remaining, minC)
        val it = counters.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          e.getValue()(0) -= d
          if (e.getValue()(0) == 0L) it.remove()
        }
        error += d
        remaining -= d
        if (counters.size < k) {
          if (remaining > 0) counters.put(key, Array(remaining))
          remaining = 0
        }
      }
    }
  }

  /** Lower estimate: 0 for untracked items. */
  def estimate(key: String): Long = {
    val cell = counters.get(key)
    if (cell == null) 0L else cell(0)
  }

  def numTracked: Int = counters.size

  /** Tracked items with their (lower-estimate) counts, key-sorted. */
  def items(): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (s, c) => (s, c(0)) }.toSeq.sortBy(_._1)
  }

  /** Mergeable-summaries combine: pointwise sum, then if more than k
    * counters survive, subtract the (k+1)-th largest count from every
    * counter and drop the non-positive. */
  def merge(other: FrequentItems): FrequentItems = {
    require(other.k == k, "FrequentItems k mismatch")
    val it = other.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cell = counters.get(e.getKey)
      if (cell != null) cell(0) += e.getValue()(0)
      else counters.put(e.getKey, Array(e.getValue()(0)))
    }
    total += other.total
    error += other.error
    if (counters.size > k) {
      val counts = new Array[Long](counters.size)
      var i = 0
      val vs = counters.values().iterator()
      while (vs.hasNext) { counts(i) = vs.next()(0); i += 1 }
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - k - 1) // (k+1)-th largest
      val es = counters.entrySet().iterator()
      while (es.hasNext) {
        val e = es.next()
        e.getValue()(0) -= cut
        if (e.getValue()(0) <= 0L) es.remove()
      }
      error += cut
    }
    this
  }

  /** Published worst-case error bound for this summary size. */
  def errorBound: Long = total / (k + 1)

  def serialize(): Array[Byte] = {
    val its = items()
    val keyBytes = its.map(_._1.getBytes(StandardCharsets.UTF_8))
    val size = 4 + 4 + 8 + 8 + 4 + keyBytes.map(_.length + 4 + 8).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(FrequentItems.Magic)
    bb.putInt(k)
    bb.putLong(total)
    bb.putLong(error)
    bb.putInt(its.length)
    its.zip(keyBytes).foreach { case ((_, c), kb) =>
      bb.putInt(kb.length)
      bb.put(kb)
      bb.putLong(c)
    }
    bb.array()
  }
}

object FrequentItems extends SketchCodec[FrequentItems] {
  val name = "freq"
  def serialize(s: FrequentItems): Array[Byte] = s.serialize()
  def merge(a: FrequentItems, b: FrequentItems): FrequentItems = a.merge(b)

  final val Magic = 0x474d4753 // "GMGS"

  def create(k: Int): FrequentItems =
    new FrequentItems(k, new java.util.HashMap[String, Array[Long]](), 0L, 0L)

  /** size from the published guarantee: error <= eps * n needs
    * k >= ceil(1/eps) - 1 counters. */
  def forGuarantee(eps: Double): FrequentItems =
    create(math.max(1, math.ceil(1.0 / eps).toInt - 1))

  def deserialize(bytes: Array[Byte]): FrequentItems = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad mg magic 0x$magic%08x")
    val k = bb.getInt()
    val total = bb.getLong()
    val error = bb.getLong()
    val n = bb.getInt()
    val m = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val kb = new Array[Byte](len)
      bb.get(kb)
      val c = bb.getLong()
      m.put(new String(kb, StandardCharsets.UTF_8), Array(c))
      i += 1
    }
    new FrequentItems(k, m, total, error)
  }
}
