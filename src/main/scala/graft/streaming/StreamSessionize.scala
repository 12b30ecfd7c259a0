package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming gap sessionization — the always-on form of
 * [[graft.pipeline.Temporal.sessionize]], built on Spark's native
 * `session_window` aggregation (the idiomatic Structured Streaming
 * shape for gap sessions; reference daemons have no session concept,
 * this is pipeline surface the engine adds on top of the sketch
 * core).
 *
 * Semantics, verified against the batch operator: an event exactly
 * `gap` after its predecessor EXTENDS the session (the break
 * condition is strictly `> gap`, matching the batch lag-formula),
 * and the emitted window end is `last_event_ts + gap`.
 *
 * Streaming session windows only support APPEND output mode: a
 * session row is emitted exactly once, when the watermark passes its
 * end — so the changelog sink needs no latest-by-key compaction
 * view, every appended row is final. The flip side is that sessions
 * still open at the end of a drain sit in state unemitted until
 * event time advances past their end; an always-on deployment gets
 * that for free from the next events, and the gate models it by
 * appending one far-future watermark-advancing sentinel event (a
 * reserved user_id) as the final file — Spark's trailing no-data
 * micro-batch then evicts and emits every real session. State is
 * bounded by the watermark: closed sessions are dropped at eviction.
 *
 * Scale: the session aggregation shuffles once on (user_id) into the
 * state store — the same single-exchange shape as the batch window
 * plan — and each micro-batch's emitted sessions append to the
 * distributed parquet changelog ([[StreamSinks]]); no row passes
 * through the driver.
 */
object StreamSessionize {

  /** Reserved user_id for the watermark-advancing sentinel; its own
    * (never-emitted) session is filtered from the result. */
  val SentinelUser: Long = -1L

  /**
   * Drain `inDir` as a file stream and emit one row per CLOSED
   * session of `gap` inactivity: (user_id, start_us, end_us,
   * n_events, cents, n_purchases), integer-only so the DuckDB
   * oracle replays byte-exact. `end_us` is the session-window end,
   * i.e. last event + gap.
   */
  def sessionize(spark: SparkSession, inDir: String, checkpointDir: String,
                 sinkDir: String, gap: String, watermarkDelay: String = "10 minutes",
                 maxFilesPerTrigger: Int = 2, statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      // source ts is TIMESTAMP_NTZ; the session is pinned to UTC so
      // casting to an instant preserves the wall time
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        sum((col("event_type") === lit("purchase")).cast("long")).as("n_purchases"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("cents"), col("n_purchases"))

    StreamSinks.drainToSink(stream, checkpointDir, sinkDir)(identity)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
      .filter(col("user_id") =!= lit(SentinelUser))
  }

  /**
   * Streaming == batch contract: every streamed session must match
   * the batch operator's session with the same (user_id, start) —
   * same event count, cents, purchases, and end (batch tracks last
   * event time; the window end is that plus the gap). A full outer
   * join surfaces extra/missing sessions as `matches_batch = false`.
   */
  def compareSessionsToBatch(spark: SparkSession, inDir: String, streamed: DataFrame,
                             gapUs: Long): DataFrame =
    compareSessions(streamed, batchSessions(spark, inDir, gapUs))

  /** The exact batch sessionization the streamed sessions must match —
    * split out so gate callers can materialize it CONCURRENTLY with
    * the drain (independent jobs back-fill the drain's idle cores). */
  def batchSessions(spark: SparkSession, inDir: String, gapUs: Long): DataFrame =
    graft.pipeline.Temporal.sessionize(
        spark.read.parquet(inDir).filter(col("user_id") =!= lit(SentinelUser)), gapUs)
      .select(col("user_id"), col("start_us"),
        (col("end_us") + gapUs).as("b_end_us"), col("n_events").as("b_n"),
        col("cents").as("b_cents"), col("n_purchases").as("b_purch"))

  def compareSessions(streamed: DataFrame, batch: DataFrame): DataFrame = {
    streamed.join(batch, Seq("user_id", "start_us"), "full_outer")
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("cents"), col("n_purchases"),
        coalesce(col("end_us") === col("b_end_us") &&
          col("n_events") === col("b_n") && col("cents") === col("b_cents") &&
          col("n_purchases") === col("b_purch"), lit(false)).as("matches_batch"))
  }
}
