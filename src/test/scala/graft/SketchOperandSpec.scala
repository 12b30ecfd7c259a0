package graft

import graft.SourceScan.offenders
import org.scalatest.funsuite.AnyFunSuite

/**
 * Keeps one sketch operand form: a probe reads a driver-built sketch
 * through a broadcast handle (`sketch_ref`), never a plan literal. A
 * literal prints the blob into every plan description and copies it into
 * every task binary. `Bench.scala` is frozen and keeps its literal.
 */
class SketchOperandSpec extends AnyFunSuite {

  test("no sketch probe under src/main takes a lit( operand outside Bench") {
    val probes = Seq("bloom_contains", "sbf_contains", "lbf_count", "cms_estimate", "freq_estimate")
    val found = offenders("src/main",
      probes.mkString("""\b(?:""", "|", """)\s*\(\s*(?:\w+\s*\.\s*)*(?:typedLit|lit)\s*\("""),
      Set("Bench.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
