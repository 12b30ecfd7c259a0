package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming session_window gap sessionization: exact emitted
 * sessions on a hand-built replay, the exact-gap boundary rule
 * (event at prev + gap EXTENDS — break is strictly `> gap`), and
 * the sentinel-driven flush of still-open sessions.
 */
class StreamSessionizeSpec extends AnyFunSuite with SharedSpark {

  private def ts(h: Int, m: Int) = java.sql.Timestamp.from(
    java.time.LocalDateTime.of(2026, 1, 1, h, m, 0)
      .toInstant(java.time.ZoneOffset.UTC))

  private def us(h: Int, m: Int): Long = ts(h, m).toInstant.toEpochMilli * 1000L

  test("session_window streaming: exact sessions, gap-boundary merge, sentinel flush") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sessspec")
    val in = tmp.resolve("in")
    // file-at-a-time replay in event-time order; last file is the
    // watermark-advancing sentinel (2 gaps past the corpus max)
    val files = Seq(
      Seq((1L, ts(10, 0), 1L, "click", 1.0, "{}"),
          (2L, ts(10, 2), 2L, "purchase", 2.5, "{}")),
      Seq((3L, ts(10, 10), 1L, "purchase", 3.0, "{}")), // exactly 10m after the
                                                        // previous event -> EXTENDS
      Seq((4L, ts(10, 21), 1L, "click", 4.0, "{}")),    // 11 min gap -> new session
      Seq((5L, ts(12, 0), StreamSessionize.SentinelUser, "sentinel", 0.0, "{}"))
    )
    StreamSinks.stageFiles(in,
      files.map(_.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
    val streamed = StreamSessionize.sessionize(
      spark, in.toString, tmp.resolve("cp").toString, tmp.resolve("out").toString,
      gap = "10 minutes", watermarkDelay = "1 minute", maxFilesPerTrigger = 1)
    val got = streamed
      .select("user_id", "start_us", "end_us", "n_events", "cents", "n_purchases")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val gapUs = 10L * 60 * 1000000
    assert(got == Seq(
      // uid1 session 1: 10:00 + 10:10 (exact-gap event merged), end = 10:10 + gap
      (1L, us(10, 0), us(10, 10) + gapUs, 2L, 400L, 1L),
      (1L, us(10, 21), us(10, 21) + gapUs, 1L, 400L, 0L),
      (2L, us(10, 2), us(10, 2) + gapUs, 1L, 250L, 1L)),
      s"got $got")
    // no sentinel row leaked
    assert(!got.exists(_._1 == StreamSessionize.SentinelUser))
    // and the batch-comparison view agrees on every session
    val cmp = StreamSessionize.compareSessionsToBatch(
      spark, in.toString, streamed, gapUs)
    assert(cmp.collect().forall(_.getBoolean(6)), "stream/batch session mismatch")
    assert(cmp.count() == 3)
  }
}
