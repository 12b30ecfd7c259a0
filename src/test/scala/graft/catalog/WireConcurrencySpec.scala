package graft.catalog

import graft.SharedSpark
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two evaluation tags that must be observed CONCURRENTLY: each probe
  * task records its tag and then waits (bounded) until both tags are
  * present — possible only if two read-locked checks run in parallel. */
object ReadGate {
  val seen: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def pass(tag: String): String = {
    seen.add(tag)
    val deadline = System.nanoTime + 20L * 1000 * 1000 * 1000
    while (!(seen.contains("A") && seen.contains("B"))) {
      if (System.nanoTime > deadline)
        throw new RuntimeException("checks serialized: second probe never started")
      Thread.sleep(5)
    }
    tag
  }
}

/**
 * Concurrency semantics of the wire surface, matching the reference's
 * per-filter rwlocks (`filter_manager.c:335-391`) and its integration
 * matrix (`integ/test_integ.py:280-373`): concurrent checks proceed in
 * parallel, sets never lose updates, and set loops racing
 * drop/flush/create across REAL TCP connections see only the
 * reference's legal responses.
 */
class WireConcurrencySpec extends AnyFunSuite with SharedSpark {

  private def newCatalog(): SketchCatalog =
    new SketchCatalog(spark, java.nio.file.Files.createTempDirectory("wirecc").toString)

  test("two checks on one filter hold the read lock concurrently (filtmgr_check_keys rdlock)") {
    import spark.implicits._
    val cat = newCatalog()
    assert(cat.create("shared") == "Done")
    assert(cat.setKeys("shared", Seq("k1", "k2").toDF("k")).isRight)
    ReadGate.seen.clear()
    val gate = udf((t: String) => ReadGate.pass(t))
    def probe(tag: String): Either[String, Long] =
      cat.checkKeys("shared", spark.range(1).select(gate(lit(tag)).as("k")))
        .map(_.count())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
        def call() = probe("A")
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
        def call() = probe("B")
      })
      // both complete only if the second check could START while the
      // first was still inside its probe — i.e. a shared read lock
      assert(fa.get(60, java.util.concurrent.TimeUnit.SECONDS) == Right(1L))
      assert(fb.get(60, java.util.concurrent.TimeUnit.SECONDS) == Right(1L))
    } finally pool.shutdownNow()
  }

  test("concurrent read-locked checks on one sketch instance: zero false negatives (scratch race)") {
    // pre-fix, the shared per-instance hash scratch interleaved two
    // keys' ladders under the shared read lock -> false negatives
    val cat = newCatalog()
    assert(cat.create("probe") == "Done")
    (0 until 2000).foreach(i => assert(cat.setKeyLocal("probe", s"pk$i") == Right(true)))
    val nThreads = 8
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      val fs = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 5000).foreach { i =>
            val k = s"pk${(i * 7 + t * 131) % 2000}"
            if (cat.checkKeyLocal("probe", k) != Right(true)) errors.incrementAndGet()
          }
        })
      }
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(errors.get() == 0, s"${errors.get()} false negatives under concurrent checks")
  }

  test("concurrent sets from many threads lose no updates (write-lock exclusion)") {
    val cat = newCatalog()
    assert(cat.create("hammer") == "Done")
    val nThreads = 8
    val perThread = 200
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      val futures = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until perThread).foreach { i =>
            assert(cat.setKeyLocal("hammer", s"key-$t-$i") == Right(true))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    // every key present; counters account for every add exactly once
    (0 until nThreads).foreach { t =>
      (0 until perThread).foreach { i =>
        assert(cat.checkKeyLocal("hammer", s"key-$t-$i") == Right(true))
      }
    }
    val info = cat.info("hammer").toOption.get
    assert(info.set_hits == nThreads.toLong * perThread)
    assert(info.size == nThreads.toLong * perThread)
  }

  test("checkKeysMulti faults in ONLY referenced filters (cold-sweep protocol preserved)") {
    import spark.implicits._
    val cat = newCatalog()
    assert(cat.create("touched") == "Done")
    assert(cat.create("untouched") == "Done")
    assert(cat.setKeyLocal("touched", "t1") == Right(true))
    assert(cat.setKeyLocal("untouched", "u1") == Right(true))
    assert(cat.close("untouched") == "Done") // proxied: sketch unloaded
    cat.listCold() // clear creation-hot flags; window starts here
    val res = cat.checkKeysMulti(Seq(("touched", "t1"), ("touched", "nope")).toDF("n", "k"))
      .collect().map(r => (r.getString(1), r.get(2))).toMap
    assert(res("t1") == true && res("nope") == false)
    // the un-referenced proxied filter stayed unloaded and un-hot
    val info = cat.info("untouched").toOption.get
    assert(info.in_memory == 0, "probe must not fault in unreferenced filters")
    assert(cat.listCold() == Seq("untouched"), "only the probed filter was marked hot")
  }

  // 2 filters is the op_multi_filter_check shape; 64 the catalog scale
  Seq(2, 64).foreach { nFilters =>
    test(s"checkKeysMulti over $nFilters filters: one bounded scan (broadcast shape), answers + counters exact") {
      import spark.implicits._
      val cat = newCatalog()
      (0 until nFilters).foreach { f =>
        assert(cat.create(s"mf$f") == "Done")
        assert(cat.setKeys(s"mf$f", Seq(s"own-$f", "shared").toDF("k")).isRight)
      }
      // every filter probed for: its own key (Yes), another filter's own
      // key (No), the shared key (Yes) — plus unknown-name and null rows
      val pairs = (0 until nFilters).flatMap { f =>
        Seq((s"mf$f", s"own-$f"), (s"mf$f", s"own-${(f + 1) % nFilters}"), (s"mf$f", "shared"))
      } ++ Seq(("ghost", "x"), (null, "y"))
      val res = cat.checkKeysMulti(pairs.toDF("name", "key"))
      val rows = res.collect().map(r =>
        (Option(r.getString(0)).orNull, r.getString(1)) -> Option(r.get(2)).orNull).toMap
      assert(rows.size == pairs.size)
      (0 until nFilters).foreach { f =>
        assert(rows((s"mf$f", s"own-$f")) == true)
        assert(rows((s"mf$f", s"own-${(f + 1) % nFilters}")) == false)
        assert(rows((s"mf$f", "shared")) == true)
      }
      assert(rows(("ghost", "x")) == null)
      assert(rows((null, "y")) == null)
      // plan evidence: the probe is NOT one re-scan of the pair set per
      // filter — no union anywhere near branch width, and at most a
      // couple of leaf scans in the whole physical plan
      // (read through the cached relations a probe result scans: a
      // persisted union is one InMemoryTableScan leaf from outside)
      val plan = res.queryExecution.executedPlan
      def operators(p: SparkPlan): Seq[SparkPlan] = p match {
        case m: InMemoryTableScanExec => operators(m.relation.cachedPlan)
        case _ => p +: p.children.flatMap(operators)
      }
      val unionWidths = operators(plan).collect { case u: UnionExec => u.children.length }
      assert(unionWidths.forall(_ <= 2), s"union widths $unionWidths")
      val leafScans = operators(plan).count(_.children.isEmpty)
      assert(leafScans <= 3, s"expected a bounded number of scans, got $leafScans leaves:\n$plan")
      // the one aggregation pass updated every filter's counters
      (0 until nFilters).foreach { f =>
        val info = cat.info(s"mf$f").toOption.get
        assert(info.checks == 3, s"mf$f checks")
        assert(info.check_hits == 2, s"mf$f hits")
        assert(info.check_misses == 1, s"mf$f misses")
      }
    }
  }

  test("checkKeysMulti at 256 filters: broadcast chunked under the byte budget, recorded bytes bounded, answers + counters exact") {
    import spark.implicits._
    val cat = newCatalog()
    val nFilters = 256
    (0 until nFilters).foreach { f =>
      assert(cat.create(s"cf$f", 20000, 0.001) == "Done")
      assert(cat.setKeyLocal(s"cf$f", s"own-$f") == Right(true))
    }
    val oldBudget = SketchCatalog.multiProbeByteBudget
    try {
      // shrink the budget so the 256-filter probe MUST run as many
      // chunks — the driver's serialized working set and each
      // executor's live broadcast stay under this bound
      SketchCatalog.multiProbeByteBudget = 1L << 20
      val pairs = (0 until nFilters).flatMap { f =>
        Seq((s"cf$f", s"own-$f"), (s"cf$f", "absent"))
      } ++ Seq(("ghost", "x"), (null, "y"))
      val rows = cat.checkKeysMulti(pairs.toDF("name", "key"))
        .collect().map(r =>
          (Option(r.getString(0)).orNull, r.getString(1)) -> Option(r.get(2)).orNull).toMap
      assert(rows.size == pairs.size)
      (0 until nFilters).foreach { f =>
        assert(rows((s"cf$f", s"own-$f")) == true, s"cf$f own key")
        assert(rows((s"cf$f", "absent")) == false, s"cf$f absent key")
      }
      assert(rows(("ghost", "x")) == null)
      assert(rows((null, "y")) == null)
      val st = cat.lastMultiProbeStats
      assert(st.chunks >= 4, s"expected a chunked plan, got ${st.chunks} chunk(s)")
      assert(st.maxChunkBytes <= (1L << 20),
        s"recorded chunk bytes ${st.maxChunkBytes} exceed the 1 MiB budget")
      // counters survive chunking: every filter tallied exactly once
      (0 until nFilters).foreach { f =>
        val info = cat.info(s"cf$f").toOption.get
        assert(info.checks == 2, s"cf$f checks")
        assert(info.check_hits == 1, s"cf$f hits")
        assert(info.check_misses == 1, s"cf$f misses")
      }
    } finally SketchCatalog.multiProbeByteBudget = oldBudget
  }

  test("rust server over TCP: 4 concurrent connections, per-filter exclusion, no lost counts") {
    val root = java.nio.file.Files.createTempDirectory("rustcc")
    val rs = new RustBloomServer(root.toString)
    val server = new WireTcpServer(rs.interpret)
    try {
      WireTcpClient.session(server.port) { send =>
        assert(send("create rc") == "Done")
        assert(send("create rd") == "Done")
      }
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def conn(name: String)(body: (String => String) => Unit): Thread = {
        val t = new Thread(() => {
          try WireTcpClient.session(server.port)(body)
          catch { case e: Throwable => errors.add(s"$name: $e") }
        }, name)
        t.start(); t
      }
      // two setters on DIFFERENT filters (map read lock shared), one
      // multi-checker, one lifecycle thread creating/flushing
      val s1 = conn("rc-setter") { send =>
        (0 until 500).foreach { i =>
          val r = send(s"set rc a$i")
          if (r != "1") errors.add(s"rc set a$i got $r")
        }
      }
      val s2 = conn("rd-setter") { send =>
        (0 until 500).foreach { i =>
          val r = send(s"set rd b$i")
          if (r != "1") errors.add(s"rd set b$i got $r")
        }
      }
      val checker = conn("checker") { send =>
        (0 until 1000).foreach { i =>
          val r = send(s"multi rc a${i % 500} zz")
          // each key is 0 (not yet set) or 1 (set); zz always 0
          if (!r.matches("[01] 0")) errors.add(s"multi got $r")
        }
      }
      val lifecycle = conn("lifecycle") { send =>
        (0 until 10).foreach { i =>
          if (send(s"create extra$i") != "Done") errors.add(s"create extra$i failed")
          if (send("flush") != "Done") errors.add("flush failed")
        }
      }
      Seq(s1, s2, checker, lifecycle).foreach(_.join(120000))
      Seq(s1, s2, checker, lifecycle).foreach(t => assert(!t.isAlive, s"${t.getName} deadlocked"))
      assert(errors.isEmpty, s"protocol violations: $errors")
      WireTcpClient.session(server.port) { send =>
        (0 until 500 by 83).foreach { i =>
          assert(send(s"check rc a$i") == "1")
          assert(send(s"check rd b$i") == "1")
        }
        val info = send("info rc")
        assert(info.contains("size 500"), s"lost sets: $info")
      }
    } finally server.close()
  }

  test("integ matrix over >= 4 real TCP connections: set loops vs concurrent drop/flush/create") {
    val cat = newCatalog()
    val server = new WireTcpServer(new CWireServer(cat).interpret)
    try {
      // --- test_concurrent_drop (test_integ.py:280-303): a set loop
      // races a drop from another connection; every response is "Yes"
      // until "Filter does not exist", and the drop lands mid-loop
      WireTcpClient.session(server.port) { send =>
        assert(send("create pingpong") == "Done")
      }
      val dropper = new Thread(() => {
        Thread.sleep(30)
        WireTcpClient.session(server.port) { send => send("drop pingpong") }
      })
      dropper.start()
      val setsBeforeDrop = WireTcpClient.session(server.port) { send =>
        var x = 0
        var gone = false
        while (x < 20000 && !gone) {
          val resp = send(s"set pingpong test$x")
          if (resp == "Filter does not exist") gone = true
          else { assert(resp == "Yes", s"unexpected response: $resp"); x += 1 }
        }
        assert(gone, "drop never observed by the set loop")
        x
      }
      dropper.join()
      assert(setsBeforeDrop > 0)

      // --- test_concurrent_close (test_integ.py:306-325): a set loop
      // races `close` from another connection. close keeps the filter
      // REGISTERED (proxied, sketch unloaded) — so unlike drop, every
      // set response must stay "Yes" straight through the page-out +
      // fault-in cycle, and nothing inserted may be lost across it
      WireTcpClient.session(server.port) { send =>
        assert(send("create pingclose") == "Done")
      }
      val closeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val closer = new Thread(() => {
        try {
          Thread.sleep(30)
          WireTcpClient.session(server.port) { send =>
            (0 until 3).foreach { _ =>
              val r = send("close pingclose")
              if (r != "Done") closeErrors.add(s"close got $r")
              Thread.sleep(20)
            }
          }
        } catch { case e: Throwable => closeErrors.add(s"closer: $e") }
      })
      closer.start()
      val nCloseSets = 3000
      WireTcpClient.session(server.port) { send =>
        (0 until nCloseSets).foreach { x =>
          val resp = send(s"set pingclose test$x")
          assert(resp == "Yes", s"set during close must stay Yes, got: $resp")
        }
      }
      closer.join(120000)
      assert(!closer.isAlive, "closer deadlocked")
      assert(closeErrors.isEmpty, s"close responses violated the protocol: $closeErrors")
      // state consistent after the race: still registered, every key
      // faulted back in present, counters account for every set
      WireTcpClient.session(server.port) { send =>
        (0 until nCloseSets by 131).foreach { x =>
          assert(send(s"check pingclose test$x") == "Yes", s"lost test$x across page-out")
        }
        val info = send("info pingclose")
        assert(info.contains(s"size $nCloseSets"), s"size disagrees after close race: $info")
        assert(info.contains(s"sets $nCloseSets"), s"set count disagrees: $info")
      }

      // --- test_concurrent_flush (:327-346) + test_concurrent_create
      // (:348-373) + concurrent checks: 4 simultaneous connections
      WireTcpClient.session(server.port) { send =>
        assert(send("create pingpong2") == "Done")
      }
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def conn(name: String)(body: (String => String) => Unit): Thread = {
        val t = new Thread(() => {
          try WireTcpClient.session(server.port)(body)
          catch { case e: Throwable => errors.add(s"$name: $e") }
        }, name)
        t.start(); t
      }
      val setter = conn("setter") { send =>
        (0 until 2000).foreach { x =>
          val r = send(s"set pingpong2 test$x")
          if (r != "Yes") errors.add(s"set got $r")
        }
      }
      val flusher = conn("flusher") { send =>
        (0 until 3).foreach { _ =>
          Thread.sleep(20)
          val r = send("flush pingpong2")
          if (r != "Done") errors.add(s"flush got $r")
        }
      }
      val creator = conn("creator") { send =>
        (0 until 10).foreach { x =>
          val r = send(s"create pingpong$x-extra")
          if (r != "Done") errors.add(s"create got $r")
        }
      }
      val checker = conn("checker") { send =>
        (0 until 2000).foreach { x =>
          val r = send(s"check pingpong2 test$x")
          if (r != "Yes" && r != "No") errors.add(s"check got $r")
        }
      }
      Seq(setter, flusher, creator, checker).foreach(_.join(120000))
      Seq(setter, flusher, creator, checker).foreach(t => assert(!t.isAlive, s"${t.getName} deadlocked"))
      assert(errors.isEmpty, s"interleaved responses violated the protocol: $errors")
      // no lost updates under the interleaving
      WireTcpClient.session(server.port) { send =>
        (0 until 2000 by 97).foreach { x =>
          assert(send(s"check pingpong2 test$x") == "Yes")
        }
        assert(send("list pingpong") startsWith "START")
      }
    } finally server.close()
  }
}
