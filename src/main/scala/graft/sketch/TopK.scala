package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

/**
 * Exact bounded top-k: the k best (score, item) rows under the total
 * order (score DESC, item ASC) — the deterministic tie-break makes
 * the result unique, so a SQL `row_number()` oracle can replay it
 * byte-exactly. The mergeable-aggregate complement to [[FrequentItems]]
 * (which tracks FREQUENCY; this tracks an explicit score column).
 *
 * At scale this replaces the sort+window idiom for "top-k per group":
 * partial aggregation keeps k rows per partition and the exchange
 * carries k-sized buffers, not the group's rows — the same partial/
 * final discipline as every other sketch in the family, with
 * `bloomd`'s build-once-probe-everywhere posture (filters are built
 * by bounded per-partition state, `csrc/libbloom/sbf.c:sbf_add`).
 *
 * Multiset semantics: merge concatenates (duplicates from overlapping
 * inputs are kept), which is exactly right when partials come from
 * disjoint partitions of one dataset. Associative and commutative —
 * law-checked in MergeLawsSpec.
 */
final class TopK private (val k: Int,
    private val buf: ArrayBuffer[(Long, String)]) {

  require(k > 0, s"k must be positive: $k")

  /** (score desc, item asc); true when a ranks strictly before b. */
  @inline private def before(as: Long, ai: String, bs: Long, bi: String): Boolean =
    as > bs || (as == bs && ai < bi)

  def add(score: Long, item: String): Unit = {
    if (buf.length == k) {
      val (ws, wi) = buf.last
      if (!before(score, item, ws, wi)) return // below the bar: O(1) reject
    }
    // binary search for insertion point in the sorted buffer
    var lo = 0; var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val (ms, mi) = buf(mid)
      if (before(ms, mi, score, item)) lo = mid + 1 else hi = mid
    }
    buf.insert(lo, (score, item))
    if (buf.length > k) buf.remove(buf.length - 1)
  }

  /** Sorted-list merge of two partials, truncated to k. */
  def merge(o: TopK): TopK = {
    require(o.k == k, s"merging TopK(k=${o.k}) into TopK(k=$k)")
    val out = new ArrayBuffer[(Long, String)](k)
    var i = 0; var j = 0
    while (out.length < k && (i < buf.length || j < o.buf.length)) {
      val takeLeft = j >= o.buf.length || (i < buf.length && {
        val (as, ai) = buf(i); val (bs, bi) = o.buf(j)
        before(as, ai, bs, bi) || (as == bs && ai == bi)
      })
      if (takeLeft) { out += buf(i); i += 1 } else { out += o.buf(j); j += 1 }
    }
    new TopK(k, out)
  }

  /** Best-first rows, at most k of them. */
  def result: Seq[(Long, String)] = buf.toSeq

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeInt(buf.length)
    buf.foreach { case (s, i) => out.writeLong(s); out.writeUTF(i) }
    out.flush(); bos.toByteArray
  }
}

object TopK extends SketchCodec[TopK] {
  val name = "topk"
  def serialize(s: TopK): Array[Byte] = s.serialize()
  def merge(a: TopK, b: TopK): TopK = a.merge(b)

  def create(k: Int): TopK = new TopK(k, new ArrayBuffer[(Long, String)](k))

  def deserialize(bytes: Array[Byte]): TopK = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val k = in.readInt(); val n = in.readInt()
    val buf = new ArrayBuffer[(Long, String)](k)
    var i = 0
    while (i < n) { buf += ((in.readLong(), in.readUTF())); i += 1 }
    new TopK(k, buf)
  }
}
