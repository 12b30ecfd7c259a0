package graft.gates

import org.scalatest.funsuite.AnyFunSuite

/**
 * The registry is the one list of gates: a repeated name would silently
 * drop a gate from the maps `SparkEntry` derives, and the oracle strings
 * are part of the driver contract, so their digest is pinned.
 */
class GateRegistrySpec extends AnyFunSuite {

  test("gate names are unique") {
    val names = Gates.all.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 123)
  }

  test("only the two raw approximate-search gates have no oracle") {
    assert(Gates.all.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("ann_ivf_topk_raw", "ann_lsh_topk_raw"))
  }

  test("the oracle SQL is byte-identical to the pre-registry maps") {
    // SHA-256 over name NUL oracle NUL, sorted by name, of the oracle
    // map before the registry existed
    val pairs = Gates.all.flatMap(g => g.oracle.map(g.name -> _)).sortBy(_._1)
    val bytes = pairs.map { case (n, o) => s"$n\u0000$o\u0000" }.mkString.getBytes("UTF-8")
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString
    assert(digest == "23dd5f861779b2c4040e8f5015628c67ccf50b3508b36883a2385f93949f3ee6")
  }
}
