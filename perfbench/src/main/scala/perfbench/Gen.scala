package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/**
 * Seeded inputs for the three workloads. Everything the program sees is
 * derived from `seed` here, so one seed always yields one input digest.
 */
object Gen {

  /** Per-purpose random stream: independent of how other streams are drawn. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Zipf(s) over ranks 0 until n by rejection-inversion (Hörmann and
    * Derflinger), constant memory for any n. */
  final class Zipf(n: Long, s: Double) {
    require(n >= 1 && s > 0 && s != 1.0)
    private def h(x: Double): Double = math.exp((1 - s) * math.log(x)) / (1 - s)
    private def hInv(x: Double): Double = math.exp(math.log(x * (1 - s)) / (1 - s))
    private val hX1 = h(1.5) - 1.0
    private val hN = h(n + 0.5)
    private val sCut = 2 - hInv(h(2.5) - math.exp(-s * math.log(2)))

    def sample(r: SplittableRandom): Long = {
      while (true) {
        val u = hN + r.nextDouble() * (hX1 - hN)
        val x = hInv(u)
        var k = math.round(x)
        if (k < 1) k = 1 else if (k > n) k = n
        if (k - x <= sCut || u >= h(k + 0.5) - math.exp(-s * math.log(k.toDouble))) return k - 1
      }
      -1L
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def long(v: Long): Unit = { var i = 0; while (i < 8) { md.update((v >>> (8 * i)).toByte); i += 1 } }
    def str(v: String): Unit = { md.update(v.getBytes("UTF-8")); md.update(0.toByte) }
    def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- build_tokens

  final val Sources = 20
  final val BloomCapacity = 20000L
  final val BloomProb = 1e-4
  final val HllPrecision = 12
  /** distinct tokens per source: 95% of the bloom capacity (design load) */
  final val VocabPerSource = 19000
  /** never-inserted probe tokens live at and above this id */
  final val AbsentTokenBase = 100000000

  final case class Doc(docId: Long, source: Int, tokens: Array[Int])

  final case class TokenTable(seed: Long, docs: Array[Doc], tokensPerSource: Array[Long], digest: String) {
    def totalTokens: Long = tokensPerSource.sum
    /** The vocabulary of a source: every one of these ids occurs in it. */
    def vocab(source: Int): Range = vocabStart(seed, source) until vocabStart(seed, source) + VocabPerSource
  }

  def sourceName(s: Int): String = f"src$s%02d"

  /** Sources share part of their vocabulary, as text corpora do; the
    * seed shifts every vocabulary, so each seed has its own key set. */
  def vocabStart(seed: Long, source: Int): Int =
    rng(seed, 3).nextInt(AbsentTokenBase / 2) + source * (VocabPerSource / 4)

  /**
   * The north-rule token table: ~`targetTokens` tokens in docs of 16..95
   * tokens; each doc's source is Zipf-skewed (s=0.8) over 20 sources.
   * The first VocabPerSource tokens of each source are a seeded
   * permutation of its vocabulary and later ones are Zipf-popular draws
   * from it, so every source holds exactly VocabPerSource distinct keys.
   */
  def tokenTable(seed: Long, targetTokens: Long): TokenTable = {
    val r = rng(seed, 1)
    val srcZipf = new Zipf(Sources, 0.8)
    val tokZipf = new Zipf(VocabPerSource, 1.05)
    val perms = Array.tabulate(Sources) { _ =>
      val p = Array.range(0, VocabPerSource)
      var i = p.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    val count = new Array[Long](Sources)
    val starts = Array.tabulate(Sources)(vocabStart(seed, _))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def doc(s: Int): Unit = {
      val n = 16 + r.nextInt(80)
      val toks = Array.fill(n) {
        val c = count(s); count(s) += 1
        val u = if (c < VocabPerSource) perms(s)(c.toInt) else tokZipf.sample(r).toInt
        starts(s) + u
      }
      docs += Doc(docs.length.toLong, s, toks)
    }
    var total = 0L
    while (total < targetTokens) {
      val s = srcZipf.sample(r).toInt
      doc(s); total += docs.last.tokens.length
    }
    // every source must reach its full vocabulary
    for (s <- 0 until Sources) while (count(s) < VocabPerSource) doc(s)
    val d = new Digest
    docs.foreach { x => d.long(x.docId); d.long(x.source); x.tokens.foreach(t => d.long(t)) }
    TokenTable(seed, docs.toArray, count, d.hex)
  }

  // ---------------------------------------------------------------- catalog_bulk

  /**
   * Keys for one big filter, defined as a Spark `range` expression and
   * mirrored here: id i in [0, total) maps to slot j = i * distinct / total
   * and key "k<tag>-<(a*j+b) mod distinct>". About one id in eleven repeats
   * its neighbour's key, so duplicates sit in the same partition as their
   * first copy. Never-inserted probe keys use the prefix "a" and can never
   * equal an inserted key.
   */
  final case class BulkKeys(seed: Long, distinct: Long, dupShare: Double) {
    require(distinct > 1 && distinct < (1L << 31))
    val total: Long = (distinct * (1 + dupShare)).toLong
    private val r = rng(seed, 2)
    val tag: Long = r.nextLong(1L << 40)
    val a: Long = { var x = 1 + r.nextLong(distinct - 1); while (gcd(x, distinct) != 1) x += 1; x }
    val b: Long = r.nextLong(distinct)
    /** products stay below 2^63 for distinct < 2^31 */
    def slot(i: Long): Long = (a * (i * distinct / total) + b) % distinct
    def key(i: Long): String = s"k$tag-${slot(i)}"
    def absentKey(i: Long): String = s"a$tag-$i"
    def digest: String = {
      val d = new Digest
      d.long(distinct); d.long(total); d.str(key(0)); d.str(key(total - 1)); d.str(key(distinct / 2))
      d.hex
    }
  }

  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  // ---------------------------------------------------------------- wire_mixed

  final val WireFilters = 8
  /** insert-universe size per filter; Zipf rank r is key id r */
  final val WireUniverse = 4000000L
  /** keys per filter set during setup: 99% of the first rung (100k) */
  final val WirePreload = 99000
  final val WireMultiKeys = 32

  def wireKey(seed: Long, filter: Int, id: Long): String = s"s${seed}f${filter}k$id"
  def wireAbsentKey(seed: Long, filter: Int, id: Long): String = s"s${seed}f${filter}x$id"

  /** A key command; `ids` are insert-universe ids, or never-inserted ones where `absent` */
  final case class KeyCmd(op: Char, filter: Int, ids: Array[Long], absent: Array[Boolean], line: String)

  /**
   * One connection's command stream. The mix is 72% `c`, 18% `s`,
   * 6% `m` and 4% `b` (32 keys each); key popularity is Zipf(1.01)
   * over the insert universe, and a quarter of check keys are drawn
   * from a never-inserted space.
   */
  final class WireStream(seed: Long, conn: Int) {
    private val r = rng(seed, 100 + conn)
    private val zipf = new Zipf(WireUniverse, 1.01)
    private def checkKey(f: Int): (Long, Boolean) =
      if (r.nextInt(4) == 0) (r.nextLong(1L << 40), true) else (zipf.sample(r), false)
    def next(): KeyCmd = {
      val f = r.nextInt(WireFilters)
      val p = r.nextInt(100)
      val (op, n) = if (p < 72) ('c', 1) else if (p < 90) ('s', 1) else if (p < 96) ('m', WireMultiKeys) else ('b', WireMultiKeys)
      val ids = new Array[Long](n)
      val absent = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        if (op == 'c' || op == 'm') { val (id, ab) = checkKey(f); ids(i) = id; absent(i) = ab }
        else ids(i) = zipf.sample(r)
        i += 1
      }
      val sb = new StringBuilder().append(op).append(" f").append(f)
      i = 0
      while (i < n) {
        sb.append(' ').append(if (absent(i)) wireAbsentKey(seed, f, ids(i)) else wireKey(seed, f, ids(i)))
        i += 1
      }
      KeyCmd(op, f, ids, absent, sb.toString)
    }
  }

  def wireDigest(seed: Long, commands: Int): String = {
    val d = new Digest
    (0 until 4).foreach { c => val s = new WireStream(seed, c); (0 until commands).foreach(_ => d.str(s.next().line)) }
    d.hex
  }
}
