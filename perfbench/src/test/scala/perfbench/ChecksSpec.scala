package perfbench

import graft.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class ChecksSpec extends AnyFunSuite {

  test("an injected false negative is flagged") {
    val f = BloomFilter.create(10000, 1e-4)
    val keys = (0 until 1000).map(i => s"k$i".getBytes(UTF_8))
    keys.foreach(k => f.addKey(k))
    assert(Checks.falseNegatives(keys.iterator)(f.containsKey) == 0)
    val dropped = new String(keys(17), UTF_8)
    val faulty = (k: Array[Byte]) => new String(k, UTF_8) != dropped && f.containsKey(k)
    assert(Checks.falseNegatives(keys.iterator)(faulty) == 1)
  }

  test("wire replies must byte-match Yes/No framing") {
    assert(Checks.keyReply('c', Array(true), "Yes\n").map(_.toSeq) == Right(Seq(true)))
    assert(Checks.keyReply('m', Array(false, false), "No Yes\n").map(_.toSeq) == Right(Seq(false, true)))
    assert(Checks.keyReply('c', Array(false), "yes\n").isLeft)
    assert(Checks.keyReply('c', Array(false), "Yes").isLeft)
    assert(Checks.keyReply('c', Array(false), "Yes\r\n").isLeft)
    assert(Checks.keyReply('m', Array(false, false), "Yes  No\n").isLeft)
    assert(Checks.keyReply('m', Array(false, false), "Yes\n").isLeft)
    assert(Checks.keyReply('c', Array(false), "Filter does not exist\n").isLeft)
  }

  test("an acknowledged key answered absent is a wrong reply") {
    // check of an acknowledged key must say Yes, a set of one must say No
    assert(Checks.keyReply('c', Array(true), "No\n").isLeft)
    assert(Checks.keyReply('s', Array(true), "Yes\n").isLeft)
    assert(Checks.keyReply('s', Array(true), "No\n").isRight)
    assert(Checks.keyReply('b', Array(false, true), "Yes Yes\n").isLeft)
    // keys not yet acknowledged may answer either way
    assert(Checks.keyReply('c', Array(false), "No\n").isRight)
  }

  test("info replies: the 13 reference fields between START and END") {
    val fields = Checks.InfoFields.map {
      case "capacity" => "capacity 100000"
      case "probability" => "probability 0.000100"
      case f => s"$f 3"
    }
    val good = ("START" +: fields :+ "END").mkString("", "\n", "\n")
    assert(Checks.info(good, 100000, "0.000100").isRight)
    assert(Checks.info(good.replace("END\n", "END"), 100000, "0.000100").isLeft)
    assert(Checks.info(good.replace("check_hits", "hits"), 100000, "0.000100").isLeft)
    assert(Checks.info(good, 200000, "0.000100").isLeft)
  }

  test("checker counts attempts and failures") {
    val ck = new Checker
    ck.ok(5)
    assert(ck.expect(cond = true, "fine"))
    assert(!ck.expect(cond = false, "broken"))
    assert(ck.attempted.get == 7 && ck.failed.get == 1 && !ck.correct)
    assert(ck.failures == Seq("broken"))
  }

  test("false-positive limits") {
    assert(Checks.fpLimit(1e-4, 1000000) > 100 && Checks.fpLimit(1e-4, 1000000) < 160)
    assert(Checks.sbfBound(400000, 100000, 1e-4, 0.9) == 1e-4)
    assert(math.abs(Checks.sbfBound(4000000, 100000, 1e-4, 0.9) - 4e-4) < 1e-12)
    // one sketch: the plain three-standard-error bound
    assert(math.abs(Checks.hllTolerance(12, 1) - 3.0 * 1.04 / 64) < 1e-3 * 1.04 / 64)
    // twenty sketches checked together: 3.82 standard errors each
    assert(math.abs(Checks.hllTolerance(12, 20) - 3.82 * 1.04 / 64) < 0.01 * 1.04 / 64)
  }
}
