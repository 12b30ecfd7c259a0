package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference Rust server's golden protocol test
  * (`/root/reference/src/main.rs:851-930`) and asserts every response
  * byte-for-byte. */
class RustServerSpec extends AnyFunSuite {

  test("full golden wire trace matches the reference test exactly") {
    val dir = java.nio.file.Files.createTempDirectory("rustsrv").toString
    val srv = new RustBloomServer(dir)
    def expect(cmd: String, want: String): Unit =
      assert(srv.interpret(cmd) == want, s"command: $cmd")

    expect("create filter", "Done")
    expect("create filter", "Exists")

    expect("check filter first", "0")
    expect("set filter first", "1")
    expect("c filter first", "1")
    expect("s filter first", "2")
    expect("c filter first", "2")
    expect("s filter first", "3")
    expect("c filter first", "3")

    expect("set filetr first", "Filter does not exist")
    expect("check filetr first", "Filter does not exist")
    expect("set filter first second", "Client Error: Bad arguments")
    expect("set filter first second", "Client Error: Bad arguments")
    expect("check filter", "Client Error: Bad arguments")
    expect("set filter", "Client Error: Bad arguments")

    expect("multi filter first second third", "3 0 0")
    expect("bulk filter first second third", "4 1 1")
    expect("b filter first second third", "5 2 2")
    expect("m filter first second third", "5 2 2")

    expect("bulk filetr first second third", "Filter does not exist")
    expect("multi filetr first second third", "Filter does not exist")
    expect("check filter", "Client Error: Bad arguments")
    expect("set filter", "Client Error: Bad arguments")

    expect("list fake_prefix", "START\r\nEND")
    expect("list", "START\r\nfilter 0.0001 239627 100000 3\r\nEND")

    expect("info", "Client Error: Bad arguments")
    expect("info filetr", "Filter does not exist")
    expect("info filter",
      "START\r\ncapacity 100000\r\nchecks 10\r\ncheck_hits 7\r\ncheck_misses 3\r\n" +
        "page_ins 0\r\npage_outs 0\r\nprobability 0.0001\r\nsets 9\r\nset_hits 6\r\n" +
        "set_misses 3\r\nsize 3\r\nstorage 239627\r\nEND")

    expect("infor filter", "Client Error: Command not supported")
    expect("sette filter first", "Client Error: Command not supported")

    expect("flush", "Done")
    expect("flush filter", "Done")

    expect("close", "Client Error: Bad arguments")
    expect("close filter", "Done")
    expect("create filter", "Exists")

    expect("clear filter", "Done")
    expect("create filter", "Done")
    expect("m filter first second third", "5 2 2")

    expect("drop", "Client Error: Bad arguments")
    expect("drop filter", "Done")
    expect("drop filter", "Filter does not exist")
  }

  test("drop leaves no file descriptor open") {
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(java.nio.file.Files.isDirectory(fds), "needs /proc/self/fd to count open descriptors")
    def openFds(): Long = {
      val l = java.nio.file.Files.list(fds)
      try l.count() finally l.close()
    }
    val dir = java.nio.file.Files.createTempDirectory("rustfd")
    val srv = new RustBloomServer(dir.toString)
    System.gc()
    val before = openFds()
    (1 to 300).foreach { i =>
      assert(srv.interpret(s"create f$i capacity=1000") == "Done")
      assert(srv.interpret(s"drop f$i") == "Done")
    }
    System.gc()
    val grown = openFds() - before
    assert(grown < 30, s"300 create/drop cycles left $grown more descriptors open")
    graft.util.Scratch.deleteTree(dir)
  }
}
