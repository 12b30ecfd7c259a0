package graft.gates

import org.apache.spark.sql.functions._

/** Catalog and wire gates: scripted lifecycles of the named-filter
  * catalog, the C and Rust daemons' wire traces (interpreter and TCP),
  * and export to and restore from the reference daemons' on-disk
  * layouts. */
object CatalogGates {

  /** The composite C-daemon command trace, replayed through BOTH the
    * interpreter gate (op_c_wire_trace) and a real TCP socket
    * (op_tcp_wire_trace). Steps 39-46 pin the in_memory lifecycle at
    * the gate (not just the unit suite): create in_memory=1, close is
    * a no-op that still answers Done (`filter_manager.c:516-517` skips
    * unmap — memory is the only backing store), data survives, info
    * reports in_memory 1 with zero page activity. */
  private val CWireTrace: Seq[String] = Seq(
    "list", "create foobar", "create foobar", "create " + ("foo" * 100),
    "set foobar test", "set foobar test", "check foobar test", "check foobar other",
    "multi foobar test test1 test2", "bulk foobar test blah",
    "b foobar x y", "s foobar x", "m foobar x y", "c foobar x",
    "set foobar", "check foobar", "set nosuch key", "multi nosuch a b",
    "frobnicate foobar", "create", "create badcap capacity=500", "create badp prob=0.5",
    "create foobar2", "create test4", "list foo",
    "clear foobar2", "close foobar2", "clear foobar2", "create foobar2",
    "drop foobar2", "drop foobar2",
    "flush", "flush foobar", "flush nosuch",
    "info foobar", "drop foobar", "drop test4", "list",
    "create memf in_memory=1", "set memf mk1", "check memf mk1",
    "close memf", "check memf mk1", "info memf", "drop memf", "list")

  /** shared oracle: the C daemon trace VALUES table (also replayed over TCP) */
  private val CWireTraceOracle: String =
    ("SELECT * FROM (VALUES " +
        "(1, 'list', 'START / END'), " +
        "(2, 'create foobar', 'Done'), " +
        "(3, 'create foobar', 'Exists'), " +
        "(4, 'create foofoofoofoof...', 'Client Error: Bad filter name'), " +
        "(5, 'set foobar test', 'Yes'), " +
        "(6, 'set foobar test', 'No'), " +
        "(7, 'check foobar test', 'Yes'), " +
        "(8, 'check foobar other', 'No'), " +
        "(9, 'multi foobar test test1 test2', 'Yes No No'), " +
        "(10, 'bulk foobar test blah', 'No Yes'), " +
        "(11, 'b foobar x y', 'Yes Yes'), " +
        "(12, 's foobar x', 'No'), " +
        "(13, 'm foobar x y', 'Yes Yes'), " +
        "(14, 'c foobar x', 'Yes'), " +
        "(15, 'set foobar', 'Client Error: Must provide filter name and key'), " +
        "(16, 'check foobar', 'Client Error: Must provide filter name and key'), " +
        "(17, 'set nosuch key', 'Filter does not exist'), " +
        "(18, 'multi nosuch a b', 'Filter does not exist'), " +
        "(19, 'frobnicate foobar', 'Client Error: Command not supported'), " +
        "(20, 'create', 'Client Error: Must provide filter name'), " +
        "(21, 'create badcap capacity=500', 'Client Error: Bad arguments'), " +
        "(22, 'create badp prob=0.5', 'Client Error: Bad arguments'), " +
        "(23, 'create foobar2', 'Done'), " +
        "(24, 'create test4', 'Done'), " +
        "(25, 'list foo', 'START / foobar 0.000100 300046 100000 4 / foobar2 0.000100 300046 100000 0 / END'), " +
        "(26, 'clear foobar2', 'Filter is not proxied. Close it first.'), " +
        "(27, 'close foobar2', 'Done'), " +
        "(28, 'clear foobar2', 'Done'), " +
        "(29, 'create foobar2', 'Done'), " +
        "(30, 'drop foobar2', 'Done'), " +
        "(31, 'drop foobar2', 'Filter does not exist'), " +
        "(32, 'flush', 'Done'), " +
        "(33, 'flush foobar', 'Done'), " +
        "(34, 'flush nosuch', 'Filter does not exist'), " +
        "(35, 'info foobar', 'START / capacity 100000 / checks 8 / check_hits 5 / check_misses 3 / in_memory 1 / page_ins 0 / page_outs 0 / probability 0.000100 / sets 7 / set_hits 4 / set_misses 3 / size 4 / storage 300046 / END'), " +
        "(36, 'drop foobar', 'Done'), " +
        "(37, 'drop test4', 'Done'), " +
        "(38, 'list', 'START / END'), " +
        "(39, 'create memf in_memory=1', 'Done'), " +
        "(40, 'set memf mk1', 'Yes'), " +
        "(41, 'check memf mk1', 'Yes'), " +
        "(42, 'close memf', 'Done'), " +
        "(43, 'check memf mk1', 'Yes'), " +
        "(44, 'info memf', 'START / capacity 100000 / checks 2 / check_hits 2 / check_misses 0 / in_memory 1 / page_ins 0 / page_outs 0 / probability 0.000100 / sets 1 / set_hits 1 / set_misses 0 / size 1 / storage 300046 / END'), " +
        "(45, 'drop memf', 'Done'), " +
        "(46, 'list', 'START / END')" +
        ") AS t(step, command, response) ORDER BY step")

  val all: Seq[Gate] = Seq(
    // scripted wire-protocol lifecycle over the sketch catalog —
    // exact reference response strings (`handler_constants.c:6-64`)
    Gate("op_catalog_lifecycle", (s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("opcat").toString)
      val keys = (0 until 1000).map(i => s"k$i").toDF("k")
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create foo", cat.create("foo", 20000, 0.001)))
      steps += ((2, "create foo again", cat.create("foo", 20000, 0.001)))
      steps += ((3, "create capacity<=10000", cat.create("badcap", 500)))
      steps += ((4, "create prob>=0.1", cat.create("badp", 20000, 0.5)))
      steps += ((5, "create bad name", cat.create("bad name")))
      steps += ((6, "bulk 1000 keys", if (cat.setKeys("foo", keys).isRight) "Done" else "Error"))
      val chk = cat.checkKeys("foo", keys).toOption.get
      steps += ((7, "check all inserted", if (chk.filter(!col("present")).count() == 0) "Yes" else "No"))
      steps += ((8, "check absent key",
        if (cat.checkKeys("foo", Seq("absent").toDF("k")).toOption.get.head().getBoolean(1)) "Yes" else "No"))
      val info = cat.info("foo").toOption.get
      steps += ((9, "info size", info.size.toString))
      steps += ((10, "info sets/set_hits/set_misses",
        s"${info.sets}/${info.set_hits}/${info.set_misses}"))
      steps += ((11, "info checks/check_hits/check_misses",
        s"${info.checks}/${info.check_hits}/${info.check_misses}"))
      steps += ((12, "clear before close", cat.clear("foo")))
      steps += ((13, "close", cat.close("foo")))
      steps += ((14, "clear after close", cat.clear("foo")))
      steps += ((15, "create after clear reloads", cat.create("foo", 20000, 0.001)))
      steps += ((16, "old keys fault back in",
        if (cat.checkKeys("foo", Seq("k0").toDF("k")).toOption.get.head().getBoolean(1)) "Yes" else "No"))
      steps += ((17, "drop", cat.drop("foo")))
      steps += ((18, "drop again", cat.drop("foo")))
      steps += ((19, "info of dropped",
        cat.info("foo").left.getOrElse("?")))
      steps += ((20, "list is empty", cat.list().size.toString))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    },
      Some("SELECT * FROM (VALUES " +
        "(1, 'create foo', 'Done'), " +
        "(2, 'create foo again', 'Exists'), " +
        "(3, 'create capacity<=10000', 'Client Error: Bad arguments'), " +
        "(4, 'create prob>=0.1', 'Client Error: Bad arguments'), " +
        "(5, 'create bad name', 'Client Error: Bad filter name'), " +
        "(6, 'bulk 1000 keys', 'Done'), " +
        "(7, 'check all inserted', 'Yes'), " +
        "(8, 'check absent key', 'No'), " +
        "(9, 'info size', '1000'), " +
        "(10, 'info sets/set_hits/set_misses', '1000/1000/0'), " +
        "(11, 'info checks/check_hits/check_misses', '1001/1000/1'), " +
        "(12, 'clear before close', 'Filter is not proxied. Close it first.'), " +
        "(13, 'close', 'Done'), " +
        "(14, 'clear after close', 'Done'), " +
        "(15, 'create after clear reloads', 'Done'), " +
        "(16, 'old keys fault back in', 'Yes'), " +
        "(17, 'drop', 'Done'), " +
        "(18, 'drop again', 'Filter does not exist'), " +
        "(19, 'info of dropped', 'Filter does not exist'), " +
        "(20, 'list is empty', '0')" +
        ") AS t(step, op, result) ORDER BY step")),

    // the batch multi-FILTER probe surface: (name, key) pairs routed
    // to their filters in one scan against a broadcast map of the
    // referenced sketches; unknown filters answer none
    Gate("op_multi_filter_check", (s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("opmulti").toString)
      cat.create("fa"); cat.create("fb")
      cat.setKeys("fa", Seq("a1", "a2", "shared").toDF("k"))
      cat.setKeys("fb", Seq("b1", "shared").toDF("k"))
      val pairs = Seq(
        ("fa", "a1"), ("fa", "b1"), ("fa", "shared"),
        ("fb", "a1"), ("fb", "b1"), ("fb", "shared"),
        ("ghost", "x")).toDF("name", "key")
      cat.checkKeysMulti(pairs)
        .select(col("name"), col("key"),
          coalesce(col("present").cast("string"), lit("none")).as("present"))
        .orderBy("name", "key")
    },
      Some("SELECT * FROM (VALUES " +
        "('fa', 'a1', 'true'), ('fa', 'b1', 'false'), ('fa', 'shared', 'true'), " +
        "('fb', 'a1', 'false'), ('fb', 'b1', 'true'), ('fb', 'shared', 'true'), " +
        "('ghost', 'x', 'none')" +
        ") AS t(name, key, present) ORDER BY name, key")),

    // outbound migration as a scripted trace: a filter built here is
    // exported in each reference daemon's OWN on-disk layout and read
    // back through the restore path (C: config.ini + data.NNN.mmap,
    // `config.c:482-507`; Rust: <name>.ini + N.bmp, `config.rs:135-276`)
    Gate("op_export_roundtrip", (s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("opexp").toString)
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create exf", cat.create("exf")))
      steps += ((2, "bulk 100 keys",
        if (cat.setKeys("exf", (0 until 100).map(i => s"xk$i").toDF("k")).isRight) "Done" else "Error"))
      val dest = graft.util.Scratch.tempDir("opexpdst")
      val out = cat.exportBloomd("exf", dest)
      steps += ((3, "export writes the C layout",
        out.toOption.map(_.getFileName.toString).getOrElse(out.left.getOrElse("?"))))
      val (ini, restored) = graft.catalog.SketchCatalog.restoreFromBloomd(out.toOption.get)
      steps += ((4, "restored membership, all 100 keys",
        if ((0 until 100).forall(i =>
          restored.contains(s"xk$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))) "Yes" else "No"))
      steps += ((5, "restored absent key",
        if (restored.contains("nope".getBytes(java.nio.charset.StandardCharsets.UTF_8))) "Yes" else "No"))
      steps += ((6, "ini initial_capacity", ini.initialCapacity.toString))
      steps += ((7, "ini size", ini.size.toString))
      val rustRoot = graft.util.Scratch.tempDir("opexprust")
      val rs = new graft.catalog.RustBloomServer(rustRoot.toString)
      steps += ((8, "rust create", rs.interpret("create rex")))
      steps += ((9, "rust set twice (count)", {
        rs.interpret("set rex kk"); rs.interpret("set rex kk")
      }))
      steps += ((10, "rust export", rs.exportRustDir("rex", rustRoot.resolve("out"))))
      val rs2 = new graft.catalog.RustBloomServer(
        graft.util.Scratch.tempDir("opexprust2").toString)
      steps += ((11, "rust import on a second server",
        rs2.importRustDir(rustRoot.resolve("out").resolve("filter.rex"))))
      steps += ((12, "imported multiplicity", rs2.interpret("check rex kk")))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    },
      Some("SELECT * FROM (VALUES " +
        "(1, 'create exf', 'Done'), " +
        "(2, 'bulk 100 keys', 'Done'), " +
        "(3, 'export writes the C layout', 'bloomd.exf'), " +
        "(4, 'restored membership, all 100 keys', 'Yes'), " +
        "(5, 'restored absent key', 'No'), " +
        "(6, 'ini initial_capacity', '100000'), " +
        "(7, 'ini size', '100'), " +
        "(8, 'rust create', 'Done'), " +
        "(9, 'rust set twice (count)', '2'), " +
        "(10, 'rust export', 'Done'), " +
        "(11, 'rust import on a second server', 'Done'), " +
        "(12, 'imported multiplicity', '2')" +
        ") AS t(step, op, result) ORDER BY step")),

    // background-maintenance lifecycle as a scripted trace: dirty-flush
    // sweep, cold-list window semantics (read clears hot flags,
    // `filter_manager.c:731-794`), cold page-out sweep, fault-in on
    // next use (`background.c:100-180`)
    Gate("op_background_lifecycle", (s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("opbg").toString)
      def cold(): String = { val c = cat.listCold(); if (c.isEmpty) "-" else c.mkString(",") }
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create f1", cat.create("f1")))
      steps += ((2, "create f2", cat.create("f2")))
      steps += ((3, "set f1 k1", if (cat.setKeyLocal("f1", "k1") == Right(true)) "Yes" else "No"))
      steps += ((4, "flush sweep persists dirty only",
        s"flushed=${cat.backgroundSweep(flush = true, cold = false)._1}"))
      steps += ((5, "cold list while hot", cold()))
      steps += ((6, "cold list after idle window", cold()))
      steps += ((7, "check f1 k1 touches f1",
        if (cat.checkKeyLocal("f1", "k1") == Right(true)) "Yes" else "No"))
      steps += ((8, "cold sweep pages out untouched",
        s"paged_out=${cat.backgroundSweep(flush = false, cold = true)._2}"))
      steps += ((9, "info f2 proxied",
        cat.info("f2").toOption.get.in_memory.toString))
      steps += ((10, "check f2 k1 faults back in",
        if (cat.checkKeyLocal("f2", "k1") == Right(true)) "Yes" else "No"))
      val i2 = cat.info("f2").toOption.get
      steps += ((11, "info f2 in_memory/page_ins/page_outs",
        s"${i2.in_memory}/${i2.page_ins}/${i2.page_outs}"))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    },
      Some("SELECT * FROM (VALUES " +
        "(1, 'create f1', 'Done'), " +
        "(2, 'create f2', 'Done'), " +
        "(3, 'set f1 k1', 'Yes'), " +
        "(4, 'flush sweep persists dirty only', 'flushed=1'), " +
        "(5, 'cold list while hot', '-'), " +
        "(6, 'cold list after idle window', 'f1,f2'), " +
        "(7, 'check f1 k1 touches f1', 'Yes'), " +
        "(8, 'cold sweep pages out untouched', 'paged_out=1'), " +
        "(9, 'info f2 proxied', '0'), " +
        "(10, 'check f2 k1 faults back in', 'No'), " +
        "(11, 'info f2 in_memory/page_ins/page_outs', '1/1/1')" +
        ") AS t(step, op, result) ORDER BY step")),

    // the C daemon's line protocol (conn_handler.c), replayed over a
    // composite of its integ-test goldens; responses normalized
    // (trailing \n stripped, inner \n -> " / ")
    Gate("op_c_wire_trace", (s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.CWireServer(new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("cwire").toString))
      CWireTrace.zipWithIndex
        .map { case (cmd, i) =>
          (i + 1, if (cmd.length > 40) cmd.take(20) + "..." else cmd,
            srv.interpret(cmd).stripSuffix("\n").replace("\n", " / "))
        }
        .toDF("step", "command", "response")
        .orderBy("step")
    },
      Some(CWireTraceOracle)),

    // the SAME C-protocol trace, but driven over a REAL TCP socket
    // through WireTcpServer (the reference integ tests' transport,
    // integ/test_integ.py:19-71) — proves the line framing, not just
    // the interpreter
    Gate("op_tcp_wire_trace", (s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.CWireServer(new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("tcpwire").toString))
      val tcp = new graft.catalog.WireTcpServer(srv.interpret)
      try {
        val rows = graft.catalog.WireTcpClient.session(tcp.port) { send =>
          CWireTrace.zipWithIndex.map { case (cmd, i) =>
            (i + 1, if (cmd.length > 40) cmd.take(20) + "..." else cmd,
              send(cmd).replace("\n", " / "))
          }
        }
        rows.toDF("step", "command", "response").orderBy("step")
      } finally tcp.close()
    },
      // same protocol trace, driven over the TCP transport
      Some(CWireTraceOracle)),

    // migration path: restore a filter from the reference C daemon's
    // own on-disk directory layout (config.ini + data.NNN.mmap,
    // filter.c:435-536) and prove membership/shape survived
    Gate("op_bloomd_restore", (s, dir) => {
      import s.implicits._
      val tmp = graft.util.Scratch.tempDir("bloomdrestore")
        .resolve("bloomd.migrated")
      java.nio.file.Files.createDirectories(tmp)
      // build a 3-layer SBF exactly as the daemon would (sequential
      // adds overflowing two rungs), then write ITS layout by hand
      val src = graft.sketch.ScalableBloom.create(100L, 1e-4, 4, 0.9)
      val keys = (0 until 600).map(i => s"mig$i")
      keys.foreach(k => src.add(k.getBytes("UTF-8")))
      val ini =
        s"""[bloomd]
           |initial_capacity = 100
           |default_probability = 0.000100
           |scale_size = 4
           |probability_reduction = 0.900000
           |in_memory = 0
           |size = ${src.size}
           |capacity = ${src.totalCapacity}
           |bytes = ${src.totalByteSize}
           |""".stripMargin
      java.nio.file.Files.writeString(tmp.resolve("config.ini"), ini)
      src.layers.zipWithIndex.foreach { case ((_, f), i) =>
        java.nio.file.Files.write(tmp.resolve(f"data.$i%03d.mmap"), f.serialize())
      }
      val (cfg, restored) = graft.catalog.SketchCatalog.restoreFromBloomd(tmp)
      val noFalseNeg = keys.forall(k => restored.contains(k.getBytes("UTF-8")))
      val absent = (0 until 600).count(i => restored.contains(s"abs$i".getBytes("UTF-8")))
      Seq((
        cfg.initialCapacity == 100L && cfg.scaleSize == 4,
        restored.numLayers == src.numLayers,
        restored.size == src.size,
        noFalseNeg,
        absent == 0)).toDF(
        "config_ok", "layers_ok", "size_ok", "zero_false_neg", "no_false_pos_sample")
    },
      Some("SELECT TRUE AS config_ok, TRUE AS layers_ok, TRUE AS size_ok, " +
        "TRUE AS zero_false_neg, TRUE AS no_false_pos_sample")),

    // the Rust server's golden wire trace (main.rs:851-930), replayed
    // against our counting server; responses normalized (\r\n -> " / ")
    Gate("op_rust_wire_trace", (s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.RustBloomServer(
        graft.util.Scratch.tempDir("rustwire").toString)
      val trace = Seq(
        "create filter", "create filter",
        "check filter first", "set filter first", "c filter first",
        "s filter first", "c filter first", "s filter first", "c filter first",
        "set filetr first", "check filetr first",
        "set filter first second", "check filter", "set filter",
        "multi filter first second third", "bulk filter first second third",
        "b filter first second third", "m filter first second third",
        "bulk filetr first second third", "multi filetr first second third",
        "list fake_prefix", "list",
        "info", "info filetr", "info filter",
        "infor filter", "sette filter first",
        "flush", "flush filter",
        "close", "close filter", "create filter",
        "clear filter", "create filter", "m filter first second third",
        "drop", "drop filter", "drop filter")
      trace.zipWithIndex
        .map { case (cmd, i) =>
          (i + 1, cmd, srv.interpret(cmd).replace("\r\n", " / "))
        }
        .toDF("step", "command", "response")
        .orderBy("step")
    },
      Some("SELECT * FROM (VALUES " +
        "(1, 'create filter', 'Done'), " +
        "(2, 'create filter', 'Exists'), " +
        "(3, 'check filter first', '0'), " +
        "(4, 'set filter first', '1'), " +
        "(5, 'c filter first', '1'), " +
        "(6, 's filter first', '2'), " +
        "(7, 'c filter first', '2'), " +
        "(8, 's filter first', '3'), " +
        "(9, 'c filter first', '3'), " +
        "(10, 'set filetr first', 'Filter does not exist'), " +
        "(11, 'check filetr first', 'Filter does not exist'), " +
        "(12, 'set filter first second', 'Client Error: Bad arguments'), " +
        "(13, 'check filter', 'Client Error: Bad arguments'), " +
        "(14, 'set filter', 'Client Error: Bad arguments'), " +
        "(15, 'multi filter first second third', '3 0 0'), " +
        "(16, 'bulk filter first second third', '4 1 1'), " +
        "(17, 'b filter first second third', '5 2 2'), " +
        "(18, 'm filter first second third', '5 2 2'), " +
        "(19, 'bulk filetr first second third', 'Filter does not exist'), " +
        "(20, 'multi filetr first second third', 'Filter does not exist'), " +
        "(21, 'list fake_prefix', 'START / END'), " +
        "(22, 'list', 'START / filter 0.0001 239627 100000 3 / END'), " +
        "(23, 'info', 'Client Error: Bad arguments'), " +
        "(24, 'info filetr', 'Filter does not exist'), " +
        "(25, 'info filter', 'START / capacity 100000 / checks 10 / check_hits 7 / check_misses 3 / page_ins 0 / page_outs 0 / probability 0.0001 / sets 9 / set_hits 6 / set_misses 3 / size 3 / storage 239627 / END'), " +
        "(26, 'infor filter', 'Client Error: Command not supported'), " +
        "(27, 'sette filter first', 'Client Error: Command not supported'), " +
        "(28, 'flush', 'Done'), " +
        "(29, 'flush filter', 'Done'), " +
        "(30, 'close', 'Client Error: Bad arguments'), " +
        "(31, 'close filter', 'Done'), " +
        "(32, 'create filter', 'Exists'), " +
        "(33, 'clear filter', 'Done'), " +
        "(34, 'create filter', 'Done'), " +
        "(35, 'm filter first second third', '5 2 2'), " +
        "(36, 'drop', 'Client Error: Bad arguments'), " +
        "(37, 'drop filter', 'Done'), " +
        "(38, 'drop filter', 'Filter does not exist')" +
        ") AS t(step, command, response) ORDER BY step"))
  )
}
