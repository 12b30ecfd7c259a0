package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/**
 * Serve-back proof: the REFERENCE C daemon itself (hand-built from
 * `/root/reference/csrc` by `scripts/build_reference_daemon.sh` —
 * scons is absent in this sandbox, the flags mirror SConstruct)
 * answers its own wire protocol for a filter BUILT BY THIS ENGINE and
 * exported via [[SketchCatalog.exportBloomd]] into the daemon's
 * on-disk layout (`bloomd.<name>/{config.ini,data.NNN.mmap}`,
 * `config.c:482-507`). This closes the loop the restore/export
 * round-trip specs approximate: the bytes we write are accepted by
 * the reference implementation, not just by our own reader.
 */
class ServeBackSpec extends AnyFunSuite with SharedSpark {

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  test("reference daemon serves Yes over its own TCP protocol for keys inserted by this engine") {
    import spark.implicits._
    // 1. build the reference binary (no-op when already built)
    val build = new ProcessBuilder("/root/repo/scripts/build_reference_daemon.sh")
      .redirectErrorStream(true).start()
    val buildLog = new String(build.getInputStream.readAllBytes())
    assert(build.waitFor() == 0, s"reference daemon build failed:\n$buildLog")
    val bin = Paths.get("/root/repo/target/refbloomd/bloomd")
    assert(Files.isExecutable(bin), s"missing $bin")

    // 2. build a filter HERE (distributed insert) and export it in the
    //    daemon's own layout
    val cat = new SketchCatalog(spark,
      Files.createTempDirectory("sbcat").toString)
    assert(cat.create("served") == "Done")
    val n = 2000
    assert(cat.setKeys("served", (0 until n).map(i => s"sbkey$i").toDF("k")).isRight)
    val dataDir = Files.createTempDirectory("sbdata")
    val exported = cat.exportBloomd("served", dataDir)
    assert(exported.isRight, s"export failed: $exported")

    // 3. start the reference daemon on that data_dir
    val port = freePort()
    val udp = freePort()
    val conf = Files.createTempDirectory("sbconf").resolve("bloomd.conf")
    Files.writeString(conf,
      s"[bloomd]\nport = $port\nudp_port = $udp\ndata_dir = $dataDir\n" +
        "workers = 1\nflush_interval = 600\n")
    val daemon = new ProcessBuilder(bin.toString, "-f", conf.toString)
      .redirectErrorStream(true)
      .redirectOutput(dataDir.resolve("daemon.log").toFile)
      .start()
    try {
      // wait for the accept loop
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var up = false
      while (!up && System.nanoTime() < deadline) {
        try { new java.net.Socket("127.0.0.1", port).close(); up = true }
        catch { case _: java.io.IOException => Thread.sleep(50) }
      }
      assert(up, "daemon never opened its port; log:\n" +
        Files.readString(dataDir.resolve("daemon.log")))

      WireTcpClient.session(port) { send =>
        // discovery: the exported filter is visible with our size
        val list = send("list")
        assert(list.contains("served"), s"exported filter not discovered: $list")
        assert(list.contains(s" $n"), s"exported size not reported: $list")
        // THE claim: the reference binary answers Yes for every key
        // this engine inserted
        (0 until n by 13).foreach { i =>
          assert(send(s"check served sbkey$i") == "Yes", s"reference daemon lost sbkey$i")
        }
        // sanity on the other side of the membership contract: absent
        // probes come back overwhelmingly No (p = 1e-4; a stray FP is
        // legal, 20/20 No is the expected draw)
        val absentNo = (0 until 20).count(i => send(s"check served absent$i") == "No")
        assert(absentNo >= 19, s"absent probes: only $absentNo/20 answered No")
        // and the daemon can keep serving writes on the imported filter
        assert(send("set served extra-key") == "Yes")
        assert(send("check served extra-key") == "Yes")
      }
    } finally daemon.destroy()
  }

  test("reference daemon serves a GROWN multi-layer ladder exported by this engine") {
    import spark.implicits._
    val bin = Paths.get("/root/repo/target/refbloomd/bloomd")
    assume(Files.isExecutable(bin), "daemon built by the previous test")
    // capacity floor +1 and 60k inserts force SBF growth: the export
    // writes data.000.mmap, data.001.mmap, ... — the ladder ORDER is
    // the byte-layout case our own reader can't prove alone
    val cat = new SketchCatalog(spark,
      Files.createTempDirectory("sbcat2").toString)
    assert(cat.create("grown", capacity = 10001) == "Done")
    val n = 60000
    assert(cat.setKeys("grown", (0 until n).map(i => s"gk$i").toDF("k")).isRight)
    val dataDir = Files.createTempDirectory("sbdata2")
    val out = cat.exportBloomd("grown", dataDir)
    assert(out.isRight)
    val nMmaps = Option(out.toOption.get.toFile.list()).get.count(_.endsWith(".mmap"))
    assert(nMmaps > 1, s"growth must have produced a multi-file ladder, got $nMmaps")
    val port = freePort()
    val conf = Files.createTempDirectory("sbconf2").resolve("bloomd.conf")
    Files.writeString(conf,
      s"[bloomd]\nport = $port\nudp_port = ${freePort()}\ndata_dir = $dataDir\n" +
        "workers = 1\nflush_interval = 600\n")
    val daemon = new ProcessBuilder(bin.toString, "-f", conf.toString)
      .redirectErrorStream(true)
      .redirectOutput(dataDir.resolve("daemon.log").toFile)
      .start()
    try {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var up = false
      while (!up && System.nanoTime() < deadline) {
        try { new java.net.Socket("127.0.0.1", port).close(); up = true }
        catch { case _: java.io.IOException => Thread.sleep(50) }
      }
      assert(up, "daemon never opened its port; log:\n" +
        Files.readString(dataDir.resolve("daemon.log")))
      WireTcpClient.session(port) { send =>
        val list = send("list")
        assert(list.contains("grown"), s"grown filter not discovered: $list")
        // every rung must answer: sample across the insert order so
        // keys from the first rung AND the grown rungs are probed
        (0 until n by 997).foreach { i =>
          assert(send(s"check grown gk$i") == "Yes", s"reference daemon lost gk$i (multi-layer)")
        }
      }
    } finally daemon.destroy()
  }
}
