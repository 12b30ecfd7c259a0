package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stream-stream watermarked interval join — the streaming form of
 * [[graft.pipeline.Temporal.asOfJoin]]'s attribution problem when
 * BOTH sides arrive live: every purchase joined to every click by
 * the same user in the preceding `window` (an event-time interval
 * join, Spark's native stream-stream join shape).
 *
 * Inner stream-stream joins emit a pair in the micro-batch where
 * the LATER side arrives — emission is not gated on the watermark
 * (no sentinel needed); the watermarks bound STATE: a click is
 * droppable once the watermark passes `c_ts + window` (no future
 * purchase can reach back to it), a purchase once matches can no
 * longer arrive. With a time-ordered replay no on-time row is ever
 * dropped, so the drained output is the complete, deterministic
 * pair set — asserted equal to the batch interval join by the
 * gate's DuckDB oracle.
 *
 * Scale: both sides hash-exchange once on the join key into the
 * symmetric state store; per-batch output appends to the
 * distributed changelog sink ([[StreamSinks]]) — no driver collect,
 * state bounded by watermark × window, the always-on posture.
 */
object StreamJoins {

  /**
   * Drain `inDir` twice (probe side = `probeType`, reference side =
   * `refType`) and emit one row per (probe, ref) pair of the same
   * user with `ref.ts` in `[probe.ts - window, probe.ts]`:
   * (user_id, p_id, c_id, p_us, c_us, lag_us) — integer micros so
   * the oracle replays byte-exact.
   */
  def intervalJoin(spark: SparkSession, inDir: String, checkpointDir: String,
                   sinkDir: String, probeType: String, refType: String,
                   window: String, watermarkDelay: String = "10 minutes",
                   maxFilesPerTrigger: Int = 2, statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    def side(tpe: String, idAs: String, tsAs: String, userAs: String) =
      StreamSinks.source(ss, inDir, maxFilesPerTrigger)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("ts").cast("timestamp").as(tsAs))
        .withWatermark(tsAs, watermarkDelay)
    val probe = side(probeType, "p_id", "p_ts", "p_user")
    val ref = side(refType, "c_id", "c_ts", "c_user")
    val joined = probe.join(ref, expr(
        s"p_user = c_user AND c_ts >= p_ts - interval $window AND c_ts <= p_ts"))
      .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
    StreamSinks.drainToSink(joined, checkpointDir, sinkDir)(identity)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
