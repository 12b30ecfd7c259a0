package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(id: Long, op: Long, parent: Long, name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/**
 * In-memory spans and counters, recorded by the benchmark around its
 * calls into each layer and written out when the run ends. A disabled
 * trace records nothing; callers on hot loops test `enabled` first.
 */
final class Trace(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  def newId(): Long = ids.incrementAndGet()

  /** The innermost open span on this thread, 0 when none. */
  def current: Long = stack.get() match { case s :: _ => s.id; case Nil => 0L }
  private def currentOp: Long = stack.get() match { case s :: _ => s.op; case Nil => 0L }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = newId()
      val op = if (currentOp == 0L) id else currentOp
      val open = Span(id, op, current, name, System.nanoTime(), 0L)
      stack.set(open :: stack.get())
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(open.copy(end = System.nanoTime()))
      }
    }

  /** A span measured elsewhere (listener events, client threads). */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def counter(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)
  def named(name: String): Seq[Span] = spans.asScala.iterator.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id,op,parent,name,start_ns,end_ns\n")
      spans.asScala.toSeq.sortBy(_.start).foreach { s =>
        w.write(s"${s.id},${s.op},${s.parent},${s.name},${s.start},${s.end}\n")
      }
      counters.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => w.write(s"# counter $k ${v.sum}\n") }
    } finally w.close()
  }
}

object Trace {
  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
