package graft.sketch

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/**
 * KMV (k-minimum-values) distinct sketch: keeps the k smallest MD5
 * hex digests of the elements seen. Bottom-k sketches are the
 * theta-sketch family's simplest member (Bar-Yossef et al. 2002;
 * Beyer et al., "On Synopses for Distinct-Value Estimation Under
 * Multiset Operations", SIGMOD 2007): mergeable by union-then-trim,
 * and — unlike HLL — supporting SET OPERATIONS: the union sketch's
 * bottom-k is a uniform sample of the union, so Jaccard/intersection
 * estimates are exact integer counts over that sample.
 *
 * MD5 hex is deliberately the hash: it is reproducible in ANY engine
 * (DuckDB's md5() emits the identical lowercase hex), so every gate
 * value — the kth hash itself, the estimate, the shared-hash counts —
 * is replayed byte-exactly by the SQL oracle. Cryptographic cost is
 * irrelevant at k=64-1024 gate scale; a production swap to a faster
 * 128-bit hash is a one-line change that alters no structure.
 *
 * Distinct estimate (integer arithmetic only, so every engine agrees
 * bit-for-bit): with fewer than k entries the sketch IS the distinct
 * set (estimate = size); at capacity, E = (k-1) * 2^48 / hexval48(kth)
 * where hexval48 is the first 12 hex chars as an integer — the
 * classic (k-1)/U_(k) estimator on a 48-bit prefix, floor-divided.
 */
final class Kmv private (val k: Int, val entries: java.util.TreeSet[String])
    extends Serializable {

  def size: Int = entries.size

  def addHash(h: String): Unit = {
    if (entries.size < k) { entries.add(h); () }
    else if (h.compareTo(entries.last) < 0 && !entries.contains(h)) {
      entries.add(h)
      entries.pollLast()
      ()
    }
  }

  def add(key: Array[Byte], len: Int): Unit = addHash(Kmv.md5Hex(key, len))

  def merge(other: Kmv): Kmv = {
    require(other.k == k, s"KMV k mismatch: $k vs ${other.k}")
    val it = other.entries.iterator()
    while (it.hasNext) addHash(it.next())
    this
  }

  /** largest retained hash — the k-th minimum (null below capacity) */
  def kthHash: String = if (entries.size < k) null else entries.last

  def containsHash(h: String): Boolean = entries.contains(h)

  def estimate: Long =
    if (entries.size < k) entries.size.toLong
    else (k - 1).toLong * Kmv.HexSpace / Kmv.hexVal48(entries.last)

  def hashes: Array[String] = {
    val out = new Array[String](entries.size)
    entries.toArray(out)
  }

  def serialize(): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(k).append('|')
    val it = entries.iterator()
    while (it.hasNext) sb.append(it.next())
    sb.toString.getBytes(StandardCharsets.US_ASCII)
  }

  def copySketch(): Kmv = {
    val c = Kmv.create(k)
    c.entries.addAll(entries)
    c
  }
}

object Kmv extends SketchCodec[Kmv] {
  val name = "kmv"
  def serialize(s: Kmv): Array[Byte] = s.serialize()
  def merge(a: Kmv, b: Kmv): Kmv = a.merge(b)

  /** 16^12: the hash-prefix space the integer estimator divides in */
  val HexSpace: Long = 1L << 48

  def create(k: Int): Kmv = {
    require(k >= 2, "KMV needs k >= 2")
    new Kmv(k, new java.util.TreeSet[String]())
  }

  def deserialize(bytes: Array[Byte]): Kmv = {
    val s = new String(bytes, StandardCharsets.US_ASCII)
    val bar = s.indexOf('|')
    val k = s.substring(0, bar).toInt
    val sk = create(k)
    var i = bar + 1
    while (i + 32 <= s.length) {
      sk.entries.add(s.substring(i, i + 32))
      i += 32
    }
    sk
  }

  /** first 12 hex chars as a long (the estimator's 48-bit prefix) */
  def hexVal48(h: String): Long = java.lang.Long.parseLong(h.substring(0, 12), 16)

  private val digestTl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  def md5Hex(key: Array[Byte], len: Int): String = {
    val md = digestTl.get()
    md.reset()
    md.update(key, 0, len)
    val d = md.digest()
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(s: String): String = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    md5Hex(b, b.length)
  }

  /** union of two sketches into a NEW sketch (inputs untouched) */
  def union(a: Kmv, b: Kmv): Kmv = a.copySketch().merge(b)

  /**
   * KMV Jaccard numerator: how many of the union's bottom-k hashes
   * are present in BOTH input sketches. J_est = shared / min(k, |union
   * entries|); an exact integer, so oracles replay it precisely.
   */
  def sharedInUnion(a: Kmv, b: Kmv): Int = {
    val u = union(a, b)
    var n = 0
    val it = u.entries.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.containsHash(h) && b.containsHash(h)) n += 1
    }
    n
  }

  /**
   * KMV difference numerator (theta-sketch A-not-B): how many of the
   * union's bottom-k hashes are in `a` but NOT in `b`. Sound because
   * the union's kth minimum is <= each input's kth minimum, so every
   * union-sample hash that belongs to an input IS retained by that
   * input's sketch — membership tests against the sketches are exact
   * over the union sample. |A \ B| estimates as
   * onlyInFirst/denom x unionEstimate, with denom = min(k, |union|);
   * an exact integer per step, so SQL oracles replay it precisely.
   */
  def onlyInFirst(a: Kmv, b: Kmv): Int = {
    val u = union(a, b)
    var n = 0
    val it = u.entries.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.containsHash(h) && !b.containsHash(h)) n += 1
    }
    n
  }
}
