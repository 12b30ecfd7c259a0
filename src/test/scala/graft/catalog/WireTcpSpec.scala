package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * TCP transport over the wire interpreters — the reference integ
 * tests' startup contract (`integ/test_integ.py:19-71`: connect,
 * send newline-terminated commands, read line / START..END block).
 */
class WireTcpSpec extends AnyFunSuite with SharedSpark {

  private def withServer[A](handler: String => String)(f: Int => A): A = {
    val srv = new WireTcpServer(handler)
    try f(srv.port) finally srv.close()
  }

  test("C protocol golden subset over a real socket") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("tcpspec").toString)
    val wire = new CWireServer(cat)
    withServer(wire.interpret) { port =>
      WireTcpClient.session(port) { send =>
        assert(send("list") == "START\nEND")
        assert(send("create foobar") == "Done")
        assert(send("create foobar") == "Exists")
        assert(send("set foobar test") == "Yes")
        assert(send("set foobar test") == "No")
        assert(send("check foobar test") == "Yes")
        assert(send("check foobar other") == "No")
        assert(send("multi foobar test test1 test2") == "Yes No No")
        assert(send("frobnicate x") == "Client Error: Command not supported")
        // \r\n framing tolerated (conn_handler strips the \r)
        assert(send("check foobar test\r") == "Yes")
        val info = send("info foobar")
        assert(info.startsWith("START\n") && info.endsWith("\nEND"))
        assert(info.contains("capacity 100000"))
        assert(send("drop foobar") == "Done")
      }
    }
  }

  test("Rust counting protocol over the socket") {
    val srv = new RustBloomServer(Files.createTempDirectory("tcprust").toString)
    withServer(srv.interpret) { port =>
      WireTcpClient.session(port) { send =>
        assert(send("create filter") == "Done")
        assert(send("check filter first") == "0")
        assert(send("set filter first") == "1")
        assert(send("s filter first") == "2")
        assert(send("c filter first") == "2")
        assert(send("multi filter first second") == "2 0")
        assert(send("drop filter") == "Done")
      }
    }
  }

  test("concurrent connections share one catalog consistently") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("tcpconc").toString)
    val wire = new CWireServer(cat)
    withServer(wire.interpret) { port =>
      WireTcpClient.session(port) { send => assert(send("create shared") == "Done") }
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          WireTcpClient.session(port) { send =>
            (0 until 50).foreach(i => send(s"set shared key_${t}_$i"))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      WireTcpClient.session(port) { send =>
        (0 until 4).foreach { t =>
          assert(send(s"check shared key_${t}_0") == "Yes")
          assert(send(s"check shared key_${t}_49") == "Yes")
        }
        val info = send("info shared")
        val size = info.linesIterator.find(_.startsWith("size ")).get.stripPrefix("size ").toLong
        assert(size == 200L)
      }
    }
  }
}
