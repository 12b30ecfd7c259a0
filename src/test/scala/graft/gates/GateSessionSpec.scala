package graft.gates

import graft.{SharedSpark, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/**
 * A gate runs in its caller's session and leaves that session's
 * settings as it found them: Bench runs every gate, one after the
 * other, in one session.
 */
class GateSessionSpec extends AnyFunSuite with SharedSpark {

  test("stream_dedup_watermark keeps the session zone and renders event times in UTC") {
    val zone = "spark.sql.session.timeZone"
    withConf(zone -> "Asia/Kolkata") {
      // the gate stages its own input, so it needs no scale-factor dir
      val rows = SparkEntry.queries("stream_dedup_watermark")(spark, "")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(spark.conf.get(zone) == "Asia/Kolkata")
      // the oracle's VALUES table
      assert(rows == Seq(
        1L -> "2026-01-01 10:00:00", 3L -> "2026-01-01 11:10:00",
        4L -> "2026-01-01 11:15:00", 5L -> "2026-01-01 11:30:00"))
    }
  }
}
