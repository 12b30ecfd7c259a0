package perfbench

import java.util.concurrent.atomic.AtomicLong

/**
 * Answer checks. Every checked answer counts as one attempted operation;
 * a wrong or error answer counts as failed. The first few failures are
 * kept for the log.
 */
final class Checker {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def ok(n: Long = 1): Unit = attempted.addAndGet(n)

  def expect(cond: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!cond) fail(what)
    cond
  }

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (notes.size < 20) notes.add(what)
  }

  def failures: Seq[String] = { import scala.jdk.CollectionConverters._; notes.asScala.toSeq }
  def correct: Boolean = failed.get == 0
}

object Checks {

  /**
   * Upper bound on false positives among `probes` never-inserted keys
   * for a filter whose false-positive probability is at most `p`: the
   * mean plus five standard deviations, so that a correct filter fails
   * this check with negligible probability.
   */
  def fpLimit(p: Double, probes: Long): Double = {
    val mean = p * probes
    mean + 5 * math.sqrt(mean) + 5
  }

  /** False-positive bound of a scalable bloom filter holding `n` keys
    * whose layers may have been concatenated by a distributed merge:
    * ceil(n / cap0) * (1 - r) * P, never below the nominal P. */
  def sbfBound(n: Long, cap0: Long, p: Double, r: Double): Double =
    math.max(p, math.ceil(n.toDouble / cap0) * (1 - r) * p)

  /**
   * HLL relative error allowed for each of `sketches` estimates checked
   * together: the three-standard-error bound 3 * 1.04 / sqrt(m) held
   * family-wise. A single 3-sigma check misses 0.27% of the time, so over
   * 20 sketches a correct run would fail about once in twenty; splitting
   * that 0.27% over the sketches (Bonferroni) widens each bound to
   * z * 1.04 / sqrt(m) with z = 3.82 for 20 sketches.
   */
  def hllTolerance(precision: Int, sketches: Int): Double = {
    val p = 0.0027 / sketches
    // two-sided normal quantile for tail p, by bisection on erfc
    var lo = 0.0; var hi = 10.0
    while (hi - lo > 1e-6) { val z = (lo + hi) / 2; if (erfc(z / math.sqrt(2)) > p) lo = z else hi = z }
    lo * 1.04 / math.sqrt((1 << precision).toDouble)
  }

  /** Complementary error function (Numerical Recipes erfcc, |error| < 1.2e-7). */
  private def erfc(x: Double): Double = {
    val z = math.abs(x)
    val t = 1 / (1 + z / 2)
    val r = t * math.exp(-z * z - 1.26551223 + t * (1.00002368 + t * (0.37409196 + t * (0.09678418 +
      t * (-0.18628806 + t * (0.27886807 + t * (-1.13520398 + t * (1.48851587 +
      t * (-0.82215223 + t * 0.17087277)))))))))
    if (x >= 0) r else 2 - r
  }

  /** Per-key answers of a wire reply: "Yes"/"No" words separated by single
    * spaces and ended by one newline, exactly as the reference writes them. */
  def yesNo(reply: String, keys: Int): Either[String, Array[Boolean]] = {
    if (!reply.endsWith("\n")) return Left(s"reply not newline-terminated: ${show(reply)}")
    val words = reply.dropRight(1).split(" ", -1)
    if (words.length != keys) Left(s"expected $keys answers: ${show(reply)}")
    else if (!words.forall(w => w == "Yes" || w == "No")) Left(s"not Yes/No: ${show(reply)}")
    else Right(words.map(_ == "Yes"))
  }

  /**
   * A reply to a key command (c/s/m/b). Keys acknowledged as inserted
   * before the command was sent must answer present: a check says Yes and
   * a set says No. Never-inserted keys may answer either way (a Yes is a
   * false positive, counted by the caller), as may keys another
   * connection could be setting at the same time. Returns the answers.
   */
  def keyReply(op: Char, knownBefore: Array[Boolean], reply: String): Either[String, Array[Boolean]] =
    yesNo(reply, knownBefore.length).flatMap { ans =>
      val isSet = op == 's' || op == 'b'
      val wrong = ans.indices.filter(i => knownBefore(i) && ans(i) == isSet)
      if (wrong.isEmpty) Right(ans)
      else Left(s"$op: ${wrong.length} acknowledged keys answered as absent (key #${wrong.head}): ${show(reply)}")
    }

  /** Count of `keys` a filter wrongly answers absent for. */
  def falseNegatives(keys: Iterator[Array[Byte]])(contains: Array[Byte] => Boolean): Long =
    keys.count(k => !contains(k)).toLong

  val InfoFields: Seq[String] = Seq("capacity", "checks", "check_hits", "check_misses", "in_memory",
    "page_ins", "page_outs", "probability", "sets", "set_hits", "set_misses", "size", "storage")

  /** An `info` reply: START, the 13 reference fields in order, END. */
  def info(reply: String, capacity: Long, prob: String): Either[String, Map[String, String]] = {
    val lines = reply.split("\n", -1)
    if (lines.length != 16 || lines(0) != "START" || lines(14) != "END" || lines(15) != "")
      return Left(s"bad info framing: ${show(reply)}")
    val kv = lines.slice(1, 14).map(_.split(" ", -1))
    if (!kv.forall(_.length == 2) || kv.map(_(0)).toSeq != InfoFields) return Left(s"bad info fields: ${show(reply)}")
    val m = kv.map(a => a(0) -> a(1)).toMap
    if (m("capacity") != capacity.toString || m("probability") != prob) Left(s"bad info values: ${show(reply)}")
    else if (!InfoFields.filterNot(_ == "probability").forall(f => m(f).nonEmpty && m(f).forall(_.isDigit)))
      Left(s"non-numeric info value: ${show(reply)}")
    else Right(m)
  }

  def show(s: String): String = s.take(120).replace("\n", "\\n")
}
