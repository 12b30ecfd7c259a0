package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * Stream-stream interval join: cross-batch matching through the
 * symmetric join state, inclusive window boundaries, and no pairs
 * outside the window — on a hand-built file-at-a-time replay.
 */
class StreamJoinsSpec extends AnyFunSuite with SharedSpark {

  private def ts(h: Int, m: Int) = java.sql.Timestamp.from(
    java.time.LocalDateTime.of(2026, 1, 1, h, m, 0)
      .toInstant(java.time.ZoneOffset.UTC))

  test("interval join pairs across micro-batches with inclusive bounds, rejects out-of-window") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sijspec")
    val in = tmp.resolve("in")
    // window = 1 hour; probe=purchase, ref=click, pair iff same user
    // and c_ts in [p_ts - 1h, p_ts]
    val files = Seq(
      Seq((1L, ts(9, 0), 1L, "click", 0.0, "{}"),    // batch 0
          (2L, ts(9, 0), 2L, "click", 0.0, "{}")),
      Seq((3L, ts(9, 30), 1L, "click", 0.0, "{}")),  // batch 1
      Seq((4L, ts(10, 0), 1L, "purchase", 1.0, "{}"), // batch 2: pairs with clicks
                                                      // at 9:00 (exact lower bound) AND 9:30
          (5L, ts(10, 1), 2L, "purchase", 1.0, "{}")), // 9:00 click now OUTSIDE 1h: no pair
      Seq((6L, ts(10, 30), 1L, "click", 0.0, "{}"))  // click AFTER uid1's purchase: no pair
    )
    StreamSinks.stageFiles(in,
      files.map(_.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
    val out = StreamJoins.intervalJoin(
        spark, in.toString, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        probeType = "purchase", refType = "click", window = "1 hour",
        watermarkDelay = "1 minute", maxFilesPerTrigger = 1, statePartitions = 2)
      .select("user_id", "p_id", "c_id", "lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._3)).toSeq
    assert(out == Seq(
      (1L, 4L, 1L, 3600L * 1000000),  // exact window edge: INCLUSIVE
      (1L, 4L, 3L, 1800L * 1000000)), // cross-batch: click from batch 1, purchase from batch 2
      s"got $out")
  }
}
