package graft

import graft.SourceScan.offenders
import org.scalatest.funsuite.AnyFunSuite

/**
 * Keeps one drain: every streaming query in the program is started,
 * triggered and awaited by `StreamSinks`, so the file-stream
 * lifecycle (and anything later recorded about it) lives in one place.
 */
class OneDrainSpec extends AnyFunSuite {

  test("only StreamSinks starts, triggers or awaits a streaming query") {
    val found = offenders("src/main",
      """\bwriteStream\b|\bawaitTermination\b|Trigger\s*\.\s*AvailableNow""", Set("StreamSinks.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
