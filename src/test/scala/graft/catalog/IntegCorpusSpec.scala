package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * The reference's integration corpus (`integ/test_integ.py:74-456`)
 * replayed VERBATIM over a real TCP socket: same commands, same
 * expected byte responses, a fresh server per scenario exactly like
 * the pytest `servers` fixture boots a fresh daemon per test. The
 * concurrency half of the corpus (:280-373) lives in
 * [[WireConcurrencySpec]]; this file is the sequential half.
 */
class IntegCorpusSpec extends AnyFunSuite with SharedSpark {

  /** fresh catalog + TCP server + client session, like the fixture */
  private def scenario[A](f: (String => String, SketchCatalog) => A): A = {
    val cat = new SketchCatalog(spark,
      java.nio.file.Files.createTempDirectory("integ").toString)
    val server = new WireTcpServer(new CWireServer(cat).interpret)
    try WireTcpClient.session(server.port)(send => f(send, cat))
    finally server.close()
  }

  private def listLines(resp: String): Seq[String] = {
    assert(resp.startsWith("START") && resp.endsWith("END"), resp)
    resp.split("\n").toSeq.drop(1).dropRight(1)
  }

  test("test_list_empty (:75)") { scenario { (send, _) =>
    assert(listLines(send("list")).isEmpty)
  } }

  test("test_list_prefix (:83)") { scenario { (send, _) =>
    assert(send("create foobar2") == "Done")
    assert(send("create foobar1") == "Done")
    assert(send("create test4") == "Done")
    val lines = listLines(send("list foo"))
    assert(lines.length == 2)
    assert(lines(0).contains("foobar1") && lines(1).contains("foobar2"))
  } }

  test("test_create (:100)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(listLines(send("list")).exists(_.contains("foobar")))
  } }

  test("test_create_bad (:111)") { scenario { (send, _) =>
    assert(send("create " + "foo" * 100) == "Client Error: Bad filter name")
  } }

  test("test_doublecreate (:118)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("create foobar") == "Exists")
  } }

  test("test_drop (:127)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(listLines(send("list")).exists(_.contains("foobar")))
    assert(send("drop foobar") == "Done")
    assert(listLines(send("list")).isEmpty)
  } }

  test("test_close (:143)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(listLines(send("list")).exists(_.contains("foobar")))
    assert(send("close foobar") == "Done")
    assert(listLines(send("list")).exists(_.contains("foobar")), "closed filters stay listed")
  } }

  test("test_clear (:160)") { scenario { (send, cat) =>
    assert(send("create cleartest") == "Done")
    assert(listLines(send("list")).exists(_.contains("cleartest")))
    assert(send("clear cleartest") == "Filter is not proxied. Close it first.")
    assert(listLines(send("list")).exists(_.contains("cleartest")))
    assert(send("close cleartest") == "Done")
    assert(send("clear cleartest") == "Done")
    assert(listLines(send("list")).isEmpty)
    // load + drop the cleared filter (files were kept)
    assert(send("create cleartest") == "Done")
    assert(send("drop cleartest") == "Done")
  } }

  test("test_set (:197)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("set foobar test") == "Yes")
  } }

  test("test_bulk (:206)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("multi foobar test blah") == "No No")
    assert(send("bulk foobar test blah") == "Yes Yes")
  } }

  test("test_doubleset (:217)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("set foobar test") == "Yes")
    assert(send("set foobar test") == "No")
  } }

  test("test_check (:228)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("set foobar test") == "Yes")
    assert(send("check foobar test") == "Yes")
  } }

  test("test_multi (:239)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("multi foobar test test1 test2") == "No No No")
    assert(send("set foobar test") == "Yes")
    assert(send("multi foobar test test1 test2") == "Yes No No")
  } }

  test("test_aliases (:252)") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    assert(send("b foobar test test1 test2") == "Yes Yes Yes")
    assert(send("s foobar test") == "No")
    assert(send("m foobar test1 test2") == "Yes Yes")
    assert(send("c foobar test") == "Yes")
  } }

  test("test_set_check (:267): 1000 sets then 1000 checks, all Yes") { scenario { (send, _) =>
    assert(send("create foobar") == "Done")
    (0 until 1000).foreach(x => assert(send(s"set foobar test$x") == "Yes"))
    (0 until 1000).foreach(x => assert(send(s"check foobar test$x") == "Yes"))
  } }

  // the integ file sends bare "in_memory", but the daemon's parser
  // only matches sscanf("in_memory=%d") (conn_handler.c:275) and
  // answers Bad arguments otherwise — the corpus predates the parser;
  // we replay the form the shipped parser accepts
  test("test_create_in_memory (:375)") { scenario { (send, _) =>
    assert(send("create foobar in_memory=1") == "Done")
    assert(listLines(send("list")).exists(_.contains("foobar")))
    assert(send("flush foobar") == "Done")
  } }

  test("test_set_check_in_memory (:388)") { scenario { (send, _) =>
    assert(send("create foobar in_memory=1") == "Done")
    (0 until 1000).foreach(x => assert(send(s"set foobar test$x") == "Yes"))
    (0 until 1000).foreach(x => assert(send(s"check foobar test$x") == "Yes"))
  } }

  test("test_drop_in_memory (:401)") { scenario { (send, _) =>
    assert(send("create foobar in_memory=1") == "Done")
    assert(send("drop foobar") == "Done")
    assert(listLines(send("list")).isEmpty)
  } }

  test("test_in_progress_drop (:413): create after drop answers Delete in progress") {
    scenario { (send, cat) =>
      // the reference loops create/drop until the vacuum falls behind;
      // the catalog's delete barrier makes the lag deterministic
      val latch = new java.util.concurrent.CountDownLatch(1)
      cat.deleteBarrier = Some(latch)
      try {
        assert(send("create drop_in_prog") == "Done")
        assert(send("drop drop_in_prog") == "Done")
        assert(send("create drop_in_prog") == "Delete in progress")
      } finally {
        latch.countDown()
        cat.deleteBarrier = None
        cat.awaitDeletes()
      }
      assert(send("create drop_in_prog") == "Done")
    }
  }

  test("test_create_long_prefix (:436)") { scenario { (send, _) =>
    assert(send("create test:create:filter:with:long:prefix:1") == "Done")
    assert(send("create test:create:filter:with:long:prefix:2") == "Done")
    assert(send("create test:create:filter:with:long:common:1") == "Done")
    val lines = listLines(send("list test:create:filter"))
    assert(lines.length == 3)
    assert(lines(0).contains("test:create:filter:with:long:common:1"))
    assert(lines(1).contains("test:create:filter:with:long:prefix:1"))
    assert(lines(2).contains("test:create:filter:with:long:prefix:2"))
  } }
}
