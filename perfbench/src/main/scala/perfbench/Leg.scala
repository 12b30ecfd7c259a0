package perfbench

import org.apache.spark.sql.SparkSession

/** What every leg shares: the session, the trace and the checker. */
final case class Ctx(spark: SparkSession, trace: Trace, checker: Checker, seed: Long, threads: Int,
                     work: java.nio.file.Path) {

  /** Runs `f` inside a span that Spark jobs submitted from it nest under. */
  def call[A](name: String)(f: => A): A = trace.span(name) {
    if (trace.enabled) spark.sparkContext.setLocalProperty("perfbench.span", trace.current.toString)
    try f finally if (trace.enabled) spark.sparkContext.setLocalProperty("perfbench.span", null)
  }
}

/** One timed part of a run: a build, a bulk catalog round, or wire traffic. */
trait Leg {
  /** JIT, codegen and file caches, untimed. */
  def warm(): Unit
  /** Run for about `seconds` (at least `minRepeats` rounds) and keep the samples as pass `pass`. */
  def measure(pass: Int, seconds: Double): Unit
  /** End-to-end metrics of pass 0 owned by this leg. */
  def endToEnd: Seq[(String, Double, String)]
  /** The leg's primary throughput in `pass`, for the tracing overhead. */
  def throughput(pass: Int): Double
  /** Answer checks on what the program returned; adds to the checker. The
    * primary leg also probes enough never-inserted keys for `fp_rate`. */
  def check(primary: Boolean): Unit
  /** Observed false positives and never-inserted probes, after `check`. */
  def falsePositives: (Long, Long)
  /** Serialized or persisted bytes per distinct key, after `check`. */
  def bytesPerKey: Double
  /** A sample of this leg's keys, replayed by the hash micro-benchmarks. */
  def sampleKeys(n: Int): Array[Array[Byte]]
  def close(): Unit
}

object Leg {
  def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Repeat `f` until `seconds` have passed and at least `min` rounds ran. */
  def repeat(seconds: Double, min: Int)(f: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { f(i); i += 1 }
    i
  }

  /** Count hits of `probe` over `n` indexes, split over `threads` threads. */
  def parallelCount(n: Long, threads: Int)(probe: Long => Boolean): Long = {
    val per = (n + threads - 1) / threads
    val counts = new Array[Long](threads)
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var c = 0L
        var i = t * per
        val end = math.min(n, (t + 1) * per)
        while (i < end) { if (probe(i)) c += 1; i += 1 }
        counts(t) = c
      })
      th.start(); th
    }
    ts.foreach(_.join())
    counts.sum
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
