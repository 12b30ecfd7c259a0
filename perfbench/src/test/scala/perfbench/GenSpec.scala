package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("token table: same seed, same digest; another seed, another digest") {
    val a = Gen.tokenTable(7, 200000)
    assert(Gen.tokenTable(7, 200000).digest == a.digest)
    assert(Gen.tokenTable(8, 200000).digest != a.digest)
  }

  test("token table: every source holds exactly its vocabulary at design load") {
    val t = Gen.tokenTable(3, 1000000)
    for (s <- 0 until Gen.Sources) {
      val distinct = t.docs.filter(_.source == s).flatMap(_.tokens).toSet
      assert(distinct == t.vocab(s).toSet)
      assert(distinct.size.toDouble / Gen.BloomCapacity >= 0.9)
      assert(distinct.forall(_ < Gen.AbsentTokenBase))
    }
    assert(t.tokensPerSource.max > 3 * t.tokensPerSource.min, "sources are skewed")
  }

  test("bulk keys: deterministic, seed-dependent, distinct slots, a tenth duplicated") {
    val k = Gen.BulkKeys(5, 100003, 0.1)
    assert(Gen.BulkKeys(5, 100003, 0.1).digest == k.digest)
    assert(Gen.BulkKeys(6, 100003, 0.1).digest != k.digest)
    val keys = (0L until k.total).map(k.key)
    assert(keys.distinct.size == k.distinct)
    assert(!keys.exists(_.startsWith("a")))
    assert(k.absentKey(1).startsWith("a"))
  }

  test("wire streams: deterministic per seed and connection") {
    assert(Gen.wireDigest(1, 500) == Gen.wireDigest(1, 500))
    assert(Gen.wireDigest(1, 500) != Gen.wireDigest(2, 500))
    val cmds = {
      val s = new Gen.WireStream(1, 0)
      Seq.fill(20000)(s.next())
    }
    val share = cmds.groupBy(_.op).map { case (op, cs) => op -> cs.size / 20000.0 }
    assert(math.abs(share('c') - 0.72) < 0.02 && math.abs(share('s') - 0.18) < 0.02)
    assert(cmds.filter(_.op == 'm').forall(_.ids.length == Gen.WireMultiKeys))
    assert(cmds.forall(c => c.line.split(" ").length == c.ids.length + 2))
  }

  test("zipf sampler stays in range and favours low ranks") {
    val z = new Gen.Zipf(1000, 1.01)
    val r = Gen.rng(1, 1)
    val xs = Seq.fill(100000)(z.sample(r))
    assert(xs.forall(x => x >= 0 && x < 1000))
    assert(xs.count(_ == 0) > xs.count(_ == 10) * 5)
  }
}
