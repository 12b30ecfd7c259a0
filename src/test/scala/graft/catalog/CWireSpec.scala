package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Replays a composite of the C daemon's integration-test goldens
  * (`/root/reference/integ/test_integ.py:74-278`) over the line
  * protocol, asserting exact `\n`-terminated responses. */
class CWireSpec extends AnyFunSuite with SharedSpark {

  test("C wire protocol: composite integ golden trace") {
    val dir = java.nio.file.Files.createTempDirectory("cwire").toString
    val srv = new CWireServer(new SketchCatalog(spark, dir))
    def expect(cmd: String, want: String): Unit =
      assert(srv.interpret(cmd) == want, s"command: $cmd")

    // test_list_empty
    expect("list", "START\nEND\n")
    // test_create / test_doublecreate / test_create_bad
    expect("create foobar", "Done\n")
    expect("create foobar", "Exists\n")
    expect("create " + ("foo" * 100), "Client Error: Bad filter name\n")
    // test_set / test_doubleset / test_check
    expect("set foobar test", "Yes\n")
    expect("set foobar test", "No\n")
    expect("check foobar test", "Yes\n")
    expect("check foobar other", "No\n")
    // test_multi
    expect("multi foobar test test1 test2", "Yes No No\n")
    // test_bulk (state carried: test present, blah new)
    expect("bulk foobar test blah", "No Yes\n")
    // test_aliases
    expect("b foobar x y", "Yes Yes\n")
    expect("s foobar x", "No\n")
    expect("m foobar x y", "Yes Yes\n")
    expect("c foobar x", "Yes\n")
    // errors: arity + unknown filter + unknown command
    expect("set foobar", "Client Error: Must provide filter name and key\n")
    expect("check foobar", "Client Error: Must provide filter name and key\n")
    expect("set nosuch key", "Filter does not exist\n")
    expect("multi nosuch a b", "Filter does not exist\n")
    expect("frobnicate foobar", "Client Error: Command not supported\n")
    expect("create", "Client Error: Must provide filter name\n")
    expect("create badcap capacity=500", "Client Error: Bad arguments\n")
    expect("create badp prob=0.5", "Client Error: Bad arguments\n")
    // test_list_prefix
    expect("create foobar2", "Done\n")
    expect("create test4", "Done\n")
    val listing = srv.interpret("list foo")
    assert(listing.startsWith("START\n") && listing.endsWith("END\n"), listing)
    val lines = listing.split("\n")
    assert(lines(1).startsWith("foobar ") && lines(2).startsWith("foobar2 "), listing)
    // test_clear lifecycle
    expect("clear foobar2", "Filter is not proxied. Close it first.\n")
    expect("close foobar2", "Done\n")
    expect("clear foobar2", "Done\n")
    expect("create foobar2", "Done\n")
    expect("drop foobar2", "Done\n")
    expect("drop foobar2", "Filter does not exist\n")
    // flush
    expect("flush", "Done\n")
    expect("flush foobar", "Done\n")
    expect("flush nosuch", "Filter does not exist\n")
    // info block: counter trajectory from the commands above
    val info = srv.interpret("info foobar")
    println("INFO BLOCK >>>\n" + info + "<<<")
    assert(info.contains("checks 8\n"), info)
    assert(info.contains("check_hits 5\n"), info)
    assert(info.contains("check_misses 3\n"), info)
    assert(info.contains("sets 7\n"), info)
    assert(info.contains("set_hits 4\n"), info)
    assert(info.contains("set_misses 3\n"), info)
    assert(info.contains("size 4\n"), info)
    assert(info.contains("in_memory 1\n"), info)
    assert(info.contains("probability 0.000100\n"), info)
    assert(info.startsWith("START\ncapacity 100000\n") && info.endsWith("END\n"), info)
  }

  test("C wire info block and list line, byte for byte, across a close and a fault-in") {
    val dir = java.nio.file.Files.createTempDirectory("cwirepin").toString
    val srv = new CWireServer(new SketchCatalog(spark, dir))
    def expect(cmd: String, want: String): Unit =
      assert(srv.interpret(cmd) == want, s"command: $cmd")
    expect("create pin capacity=20000 prob=0.001", "Done\n")
    expect("create pinmem capacity=30000 in_memory=1", "Done\n")
    expect("set pin a", "Yes\n")
    expect("bulk pin a b c", "No Yes Yes\n")
    expect("multi pin a z", "Yes No\n")
    expect("close pin", "Done\n")
    // proxied: size and bytes come from the persisted sketch
    expect("list pin", "START\npin 0.001000 48438 20000 3\npinmem 0.000100 90372 30000 0\nEND\n")
    expect("check pin b", "Yes\n")
    expect("info pin",
      "START\n" +
        "capacity 20000\n" +
        "checks 3\n" +
        "check_hits 2\n" +
        "check_misses 1\n" +
        "in_memory 1\n" +
        "page_ins 1\n" +
        "page_outs 1\n" +
        "probability 0.001000\n" +
        "sets 4\n" +
        "set_hits 3\n" +
        "set_misses 1\n" +
        "size 3\n" +
        "storage 48438\n" +
        "END\n")
  }

  test("multi and bulk answer the filter's error when it is dropped mid-command") {
    val dir = java.nio.file.Files.createTempDirectory("cwiredrop").toString
    // every key op drops its filter once it has answered, so the first
    // key of a multi-key command is answered and the next finds it gone
    val cat = new SketchCatalog(spark, dir) {
      override def checkKeyLocal(name: String, key: String): Either[String, Boolean] =
        try super.checkKeyLocal(name, key) finally drop(name)
      override def setKeyLocal(name: String, key: String): Either[String, Boolean] =
        try super.setKeyLocal(name, key) finally drop(name)
    }
    val srv = new CWireServer(cat)
    assert(srv.interpret("create f") == "Done\n")
    assert(srv.interpret("m f a b") == "Filter does not exist\n")
    assert(srv.interpret("create g") == "Done\n")
    assert(srv.interpret("b g a b") == "Filter does not exist\n")
  }
}
