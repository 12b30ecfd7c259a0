package graft

import graft.SourceScan.offenders
import org.scalatest.funsuite.AnyFunSuite

/**
 * Keeps one session factory: every session outside the driver contract
 * comes from `LocalSpark`, and every suite session conf goes through
 * `SharedSpark.withConf`, so no setting leaks into the suites that run
 * after it in the shared test JVM.
 */
class OneSessionFactorySpec extends AnyFunSuite {

  test("only LocalSpark, Bench and Verify build a SparkSession") {
    val found = offenders("src", """SparkSession\s*\.\s*builder""",
      Set("LocalSpark.scala", "Bench.scala", "Verify.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("suites set session confs only through withConf") {
    val setters = Seq(
      """\bconf\s*\.\s*(set|unset)\s*\(""", // spark.conf.set / unset
      """\.config\s*\(""", // a builder conf on the shared session
      """\bsql\s*\(\s*"+\s*(?i:set|reset)\b""") // SQL SET / RESET
    val found = offenders("src/test", setters.mkString("|"), Set("SharedSpark.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no gate sets or unsets a session conf") {
    val found = offenders("src/main/scala/graft/gates", """\bconf\s*\.\s*(set|unset)\s*\(""", Set.empty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
