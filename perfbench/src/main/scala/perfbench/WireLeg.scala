package perfbench

import graft.catalog.{CWireServer, SketchCatalog, WireTcpServer}
import graft.sketch.ScalableBloom
import java.io.{BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicLongArray, LongAdder}

/**
 * wire_mixed: an in-process CWireServer on WireTcpServer over loopback
 * with 8 filters at the reference defaults, driven by a closed loop over
 * one connection per two cores (bloomd clients wait for each reply). A
 * connection alternates between its client and server thread, so this
 * leaves cores free: with one connection per core on a shared 4-vCPU VM,
 * 10-18% CPU steal halved throughput and raised p99 six-fold. Mostly
 * single-key c/s with some 32-key m/b on Zipf-popular keys; connection 0
 * sends a `flush` every 2 s and connection 1 an `info` every second. A
 * flush write-locks each filter while it persists it; at this rate the
 * checks it stalls stay well under 1%, so p99 measures the command path,
 * not how many flushes fell in the window.
 */
final class WireLeg(ctx: Ctx) extends Leg {
  import Gen._
  private val seed = ctx.seed
  private val FlushEveryNs = 2000000000L
  private val InfoEveryNs = 1000000000L
  private val conns = math.max(1, ctx.threads / 2)
  private val dataDir = ctx.work.resolve("wire")
  val catalog = new SketchCatalog(ctx.spark, dataDir.toString)
  val server = new CWireServer(catalog)
  private val tcp = new WireTcpServer(server.interpret)

  /** acknowledged-inserted insert-universe ids, one bitmap per filter */
  private val known = Array.fill(WireFilters)(new AtomicLongArray(((WireUniverse + 63) / 64).toInt))
  private def isKnown(f: Int, id: Long): Boolean = (known(f).get((id >>> 6).toInt) & (1L << (id & 63))) != 0
  private def markKnown(f: Int, id: Long): Unit = {
    val w = (id >>> 6).toInt
    val bit = 1L << (id & 63)
    var cur = known(f).get(w)
    while ((cur & bit) == 0 && !known(f).compareAndSet(w, cur, cur | bit)) cur = known(f).get(w)
  }

  locally {
    val ck = ctx.checker
    for (f <- 0 until WireFilters) {
      ck.expect(server.interpret(s"create f$f") == "Done\n", s"create f$f")
      (0 until WirePreload).grouped(500).foreach { ids =>
        val reply = server.interpret(ids.map(i => wireKey(seed, f, i.toLong)).mkString(s"b f$f ", " ", ""))
        Checks.yesNo(reply, ids.length).fold(ck.fail, _ => ck.ok())
        ids.foreach(i => markKnown(f, i.toLong))
      }
    }
  }

  /** One connection's samples for one pass. */
  private final class Samples {
    val check = new LongArrayBuf; val set = new LongArrayBuf; val all = new LongArrayBuf
    /** completion times of the `check` and `set` samples, in the same order */
    val checkAt = new LongArrayBuf; val setAt = new LongArrayBuf
    val info = new LongArrayBuf; val flush = new LongArrayBuf
    /** completion time of every command */
    val done = new LongArrayBuf
    var ops = 0L; var keyCmds = 0; var bytes = 0L; var fp = 0L; var absent = 0L
  }
  private val passes = Array.fill(2)(Array.fill(conns)(new Samples))
  /** commands completed per second in each 250 ms slice of each drive */
  private val sliceRates = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Double])
  private val SliceNs = 250000000L
  /** commands each connection drew from its stream over all passes so far */
  private val drawn = new Array[Int](conns)
  private val streams = Array.tabulate(conns)(c => new WireStream(seed, c))

  private final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 14)
    private val in: InputStream = new java.io.BufferedInputStream(sock.getInputStream, 1 << 14)
    private val buf = new java.io.ByteArrayOutputStream(256)
    var bytes = 0L

    private def line(): String = {
      buf.reset()
      var b = in.read()
      while (b != '\n' && b != -1) { buf.write(b); b = in.read() }
      if (b == -1) throw new java.io.EOFException("server closed the connection")
      buf.write('\n')
      buf.toString(US_ASCII)
    }

    /** The whole reply, newlines included: one line or a START..END block. */
    def send(cmd: String): String = {
      val b = cmd.getBytes(UTF_8)
      out.write(b); out.write('\n'); out.flush()
      val first = line()
      val reply = if (first != "START\n") first else {
        val sb = new StringBuilder(first)
        var l = line()
        sb.append(l)
        while (l != "END\n") { l = line(); sb.append(l) }
        sb.toString
      }
      bytes += b.length + 1 + reply.length
      reply
    }
    def close(): Unit = sock.close()
  }

  private def verify(c: KeyCmd, reply: String, s: Samples, knownBefore: Array[Boolean]): Unit = {
    Checks.keyReply(c.op, knownBefore, reply) match {
      case Left(err) => ctx.checker.fail(s"f${c.filter}: $err")
      case Right(ans) =>
        ctx.checker.ok(ans.length)
        var i = 0
        while (i < ans.length) { if (c.absent(i)) { s.absent += 1; if (ans(i)) s.fp += 1 }; i += 1 }
    }
    if (c.op == 's' || c.op == 'b') c.ids.foreach(markKnown(c.filter, _))
  }

  private def loop(pass: Int, conn: Int, deadline: Long, cl: Client): Unit = {
    val s = passes(pass)(conn)
    val ck = ctx.checker
    val tr = ctx.trace
    // first ones half a period in, so every window of a second or more has both
    var nextFlush = System.nanoTime() + FlushEveryNs / 2
    var nextInfo = System.nanoTime() + InfoEveryNs / 2
    val r = Gen.rng(seed, 200 + conn)
    while (System.nanoTime() < deadline) {
      val now = System.nanoTime()
      if (conn == 0 && now >= nextFlush) {
        nextFlush = now + FlushEveryNs
        val t0 = System.nanoTime(); val reply = cl.send("flush"); val t1 = System.nanoTime()
        s.flush.add(t1 - t0); s.ops += 1; s.done.add(t1)
        if (tr.enabled) tr.record(Span(tr.newId(), 0, 0, "wire.flush", t0, t1))
        ck.expect(reply == "Done\n", s"flush: ${Checks.show(reply)}")
      } else if (conn == 1 % conns && now >= nextInfo) {
        nextInfo = now + InfoEveryNs
        val f = r.nextInt(WireFilters)
        val t0 = System.nanoTime(); val reply = cl.send(s"info f$f"); val t1 = System.nanoTime()
        s.info.add(t1 - t0); s.ops += 1; s.done.add(t1)
        if (tr.enabled) tr.record(Span(tr.newId(), 0, 0, "wire.info", t0, t1))
        Checks.info(reply, 100000L, "0.000100").fold(e => ck.fail(s"info f$f: $e"), _ => ck.ok())
      } else {
        val c = streams(conn).next()
        drawn(conn) += 1
        val knownBefore = c.ids.indices.map(i => !c.absent(i) && isKnown(c.filter, c.ids(i))).toArray
        val t0 = System.nanoTime(); val reply = cl.send(c.line); val t1 = System.nanoTime()
        val d = t1 - t0
        s.all.add(d); s.ops += 1; s.keyCmds += 1; s.done.add(t1)
        if (c.op == 'c') { s.check.add(d); s.checkAt.add(t1) }
        else if (c.op == 's') { s.set.add(d); s.setAt.add(t1) }
        if (tr.enabled) tr.record(Span(tr.newId(), 0, 0, s"wire.${c.op}", t0, t1))
        verify(c, reply, s, knownBefore)
      }
    }
    s.bytes = cl.bytes
  }

  private def drive(pass: Int, seconds: Double): Unit = {
    val clients = Array.fill(conns)(new Client(tcp.port))
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until conns).map { c =>
      val t = new Thread(() => try loop(pass, c, deadline, clients(c)) catch { case e: Throwable => errors.add(e) },
        s"perfbench-wire-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    // the median slice rate shrugs off a short stall of the host
    val slices = new Array[Long](((deadline - t0) / SliceNs).toInt)
    for (s <- passes(pass); t <- s.done.toArray if t >= t0) {
      val i = ((t - t0) / SliceNs).toInt
      if (i < slices.length) slices(i) += 1
    }
    sliceRates(pass) ++= slices.map(_ * 1e9 / SliceNs)
    checkP99(pass) ++= groupP99(pass, t0, _.check, _.checkAt)
    setP99(pass) ++= groupP99(pass, t0, _.set, _.setAt)
    clients.foreach(_.close())
    errors.forEach(e => ctx.checker.fail(s"wire client: $e"))
  }

  def warm(): Unit = {
    drive(1, 1.0)
    passes(1) = Array.fill(conns)(new Samples); sliceRates(1).clear(); checkP99(1).clear(); setP99(1).clear()
  }

  def measure(pass: Int, seconds: Double): Unit = drive(pass, seconds)

  private def merged(pass: Int)(f: Samples => LongArrayBuf): Array[Long] = {
    val all = passes(pass).flatMap(s => f(s).toArray)
    java.util.Arrays.sort(all); all
  }

  def throughput(pass: Int): Double = Stats.median(sliceRates(pass).toSeq)

  /** p99 latency of each run of GroupSize consecutive samples (in
    * completion order, all connections) of one drive; the median over
    * groups is reported. A host stall slows the closed loop, so it fills
    * few groups and moves the figure only when it covers most of the drive. */
  private val GroupSize = 1000
  private val checkP99 = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Long])
  private val setP99 = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Long])
  private def groupP99(pass: Int, t0: Long, lat: Samples => LongArrayBuf, at: Samples => LongArrayBuf): Seq[Long] = {
    val timed = passes(pass).flatMap { s =>
      val (l, t) = (lat(s).toArray, at(s).toArray)
      l.indices.collect { case i if t(i) >= t0 => (t(i), l(i)) }
    }
    Stats.groupTails(timed.sortBy(_._1).map(_._2), GroupSize, 0.99)
  }

  private def p50us(sorted: Array[Long]): Double = Stats.quantile(sorted, 0.5) / 1e3

  private def p99us(groups: Seq[Long], what: String): Double =
    if (groups.isEmpty) { ctx.checker.fail(s"wire $what: fewer than $GroupSize samples, no p99"); Double.NaN }
    else Stats.median(groups.map(_.toDouble)) / 1e3

  def endToEnd: Seq[(String, Double, String)] = {
    val c = merged(0)(_.check)
    val s = merged(0)(_.set)
    val slow = c.count(_ > 1000000L)
    System.err.println(s"wire samples: check=${c.length} set=${s.length} ops=${passes(0).map(_.ops).sum}" +
      f" checks over 1 ms: ${100.0 * slow / c.length}%.2f%%; p99 groups: check=${checkP99(0).length} set=${setP99(0).length}")
    Seq(("wire_ops_per_s", throughput(0), "1/s"),
      ("wire_check_p50_us", p50us(c), "us"), ("wire_set_p50_us", p50us(s), "us"))
  }

  private var fp = 0L
  private var absent = 0L
  private var bytes = 0L

  def check(primary: Boolean): Unit = {
    val ck = ctx.checker
    ck.expect(server.interpret("flush") == "Done\n", "final flush")
    val extra = if (primary) 2500000L else 0L
    for (f <- 0 until WireFilters) {
      val blob = Files.readAllBytes(dataDir.resolve(s"bloomd.f$f").resolve("sketch.bin"))
      bytes += blob.length
      val sbf = ScalableBloom.deserialize(blob)
      ck.expect(sbf.numLayers >= 2, s"f$f never grew past its first rung (${sbf.size} keys)")
      fp += Leg.parallelCount(extra, ctx.threads)(i => sbf.contains(wireAbsentKey(seed, f, -1 - i).getBytes(UTF_8)))
      absent += extra
      // every acknowledged key is present in the persisted filter
      var missing = 0L
      var n = 0L
      var id = 0L
      while (id < WireUniverse) {
        if (isKnown(f, id)) { n += 1; if (!sbf.contains(wireKey(seed, f, id).getBytes(UTF_8))) missing += 1 }
        id += 1
      }
      ck.ok(n - missing)
      if (missing > 0) ck.fail(s"persisted f$f: $missing acknowledged keys answer absent")
    }
    for (p <- 0 to 1; s <- passes(p)) { fp += s.fp; absent += s.absent }
    ck.expect(fp <= Checks.fpLimit(1e-4, absent), s"wire fp $fp of $absent over bound 1e-4")
  }

  def falsePositives: (Long, Long) = (fp, absent)

  def bytesPerKey: Double = {
    val n = known.map(k => (0 until k.length).map(i => java.lang.Long.bitCount(k.get(i)).toLong).sum).sum
    bytes.toDouble / n
  }

  /** Replays the commands the connections sent through `interpret`, with
    * no socket: per-call latency on one thread, then throughput on one
    * thread and on one thread per core. */
  def perLayer(): Seq[(String, Double, String)] = {
    val sent = (0 until conns).flatMap { c =>
      val st = new WireStream(seed, c)
      Seq.fill(math.min(drawn(c), 40000 / conns))(st.next().line)
    }
    val replay = sent.grouped((sent.length + ctx.threads - 1) / ctx.threads).map(_.toArray).toArray
    val lat = new LongArrayBuf
    replay.foreach(_.foreach { l => val t0 = System.nanoTime(); server.interpret(l); lat.add(System.nanoTime() - t0) })
    val sorted = lat.toArray; java.util.Arrays.sort(sorted)
    val t1 = Leg.timed(replay.foreach(_.foreach(server.interpret)))
    val tn = Leg.timed {
      val ts = replay.map(cmds => { val t = new Thread(() => cmds.foreach(server.interpret)); t.start(); t })
      ts.foreach(_.join())
    }
    val n = replay.map(_.length).sum
    val tcpAll = merged(1)(_.all)
    val p50 = Stats.quantile(sorted, 0.5) / 1e3
    Seq(("wire.interpret_p50_us", p50, "us"),
      ("wire.interpret_p99_us", Stats.tail(sorted, 0.99).fold(_ => Double.NaN, _ / 1e3), "us"),
      ("wire.interpret_ops_per_s_1t", n / t1, "1/s"),
      ("wire.interpret_ops_per_s_nt", n / tn, "1/s"),
      ("wire.transport_us", Stats.quantile(tcpAll, 0.5) / 1e3 - p50, "us"),
      ("wire.info_us", Stats.quantile(merged(1)(_.info), 0.5) / 1e3, "us"),
      ("wire.flush_ms", Stats.quantile(merged(1)(_.flush), 0.5) / 1e6, "ms"),
      ("wire.bytes_per_op", passes(1).map(_.bytes).sum.toDouble / passes(1).map(_.ops).sum, "bytes"),
      ("wire.check_samples", merged(1)(_.check).length.toDouble, "count"),
      ("wire.set_samples", merged(1)(_.set).length.toDouble, "count"),
      // from the untraced passes, like the end-to-end figures
      ("wire_check_p99_us", p99us(checkP99(0).toSeq, "check"), "us"),
      ("wire_set_p99_us", p99us(setP99(0).toSeq, "set"), "us"))
  }

  def sampleKeys(n: Int): Array[Array[Byte]] = {
    val st = new WireStream(seed, 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (out.length < n) st.next().line.split(" ").drop(2).foreach(k => if (out.length < n) out += k.getBytes(UTF_8))
    out.toArray
  }

  def close(): Unit = tcp.close()
}

/** Growable array of longs, for latency samples. */
final class LongArrayBuf {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = v; n += 1 }
  def length: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
