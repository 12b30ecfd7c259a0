package graft.streaming

import graft.agg.GraftFunctions._
import graft.sketch.BloomFilter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/**
 * Event-time streaming over the `events` table: watermarked windowed
 * sketch aggregation, and a custom per-key sketch state via
 * mapGroupsWithState — the two Structured Streaming shapes the
 * engine supports beyond foreachBatch merge (SURVEY.md §2.5).
 *
 * Both drain a file source in update mode through
 * [[StreamSinks.drainToSink]], which appends each batch's upserts to a
 * parquet changelog sink; the compaction view (last emission per key)
 * is the fully-aggregated state — asserted equal to the one-shot
 * batch computation on the same input. No operator collects result
 * rows to the driver: the sink write is distributed and the result
 * is a read of the sink, so the footprint is executor-sized at any
 * key cardinality (the always-on posture of the reference daemon).
 */
object WindowedSketch {

  /**
   * Watermark + event-time window + Catalyst sketch aggregate:
   * per (6h window, event_type): event count and HLL distinct users.
   * The 10-minute watermark bounds state (drops late arrivals);
   * TypedImperativeAggregate buffers checkpoint between micro-batches.
   */
  def windowedHll(spark: SparkSession, inDir: String, checkpointDir: String,
                  sinkDir: String, statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger = 2)
      // source ts is TIMESTAMP_NTZ; watermarks need an instant — the
      // session is pinned to UTC so the wall time is preserved
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(hll_agg(col("user_id").cast("string"), 14).as("users_hll"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("users_hll"), col("n_events"))
    StreamSinks.drainToSink(stream, checkpointDir, sinkDir, outputMode = "update")(identity)
    // drain done -> stream idle: the compaction window. The gate's
    // oracle then reads the COMPACTED changelog, so read-equivalence
    // across compaction is continuously proven, not just unit-tested.
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readLatestByKey(spark, sinkDir, Seq("ws", "event_type"))
  }

  /** streaming == batch contract for the windowed aggregation */
  def compareWindowedToBatch(spark: SparkSession, inDir: String, streamed: DataFrame): DataFrame =
    compareWindowed(streamed, batchWindowed(spark, inDir))

  /** One-shot batch windowed sketches — split out so gate callers can
    * materialize them CONCURRENTLY with the drain. */
  def batchWindowed(spark: SparkSession, inDir: String): DataFrame =
    spark.read.parquet(inDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(hll_agg(col("user_id").cast("string"), 14).as("hll_b"),
        count(lit(1)).as("n_b"))
      .select(col("w.start").as("ws"), col("event_type"), col("hll_b"), col("n_b"))

  def compareWindowed(streamed: DataFrame, batch: DataFrame): DataFrame = {
    streamed.join(batch, Seq("ws", "event_type"), "full_outer")
      .select(col("ws").cast("string").as("window_start"), col("event_type"),
        coalesce(col("n_b"), lit(-1L)).as("n_events"),
        (col("n_events") === col("n_b")).as("count_ok"),
        (hll_estimate(col("users_hll")) === hll_estimate(col("hll_b"))).as("hll_ok"))
      .orderBy("window_start", "event_type")
  }

  /**
   * Custom sketch state per key: mapGroupsWithState holds a serialized
   * bloom of event types per user — bounded state (sketch bytes, never
   * row history), the pattern for per-entity dedup/novelty at 10^12
   * scale. Emits (user_id, distinct-type count) per touched group per
   * batch; the last emission is the final state.
   */
  def userTypeState(spark: SparkSession, inDir: String, checkpointDir: String,
                    sinkDir: String, statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    import ss.implicits._

    def updateState(userId: Long, rows: Iterator[(Long, String)],
                    state: GroupState[Array[Byte]]): (Long, Long) = {
      val (bloom, n) = UserTypeBloom.add(state.getOption, rows)
      state.update(bloom)
      (userId, n)
    }

    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger = 2)
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateState)
      .toDF("user_id", "n_types_sketch")
    StreamSinks.drainToSink(stream, checkpointDir, sinkDir, outputMode = "update")(identity)
    StreamSinks.readLatestByKey(spark, sinkDir, Seq("user_id"))
  }

  /**
   * The same per-user sketch state on the transformWithState API
   * (Spark 4's arbitrary-state operator, requires the RocksDB state
   * store): a ValueState[Array[Byte]] holds the serialized bloom —
   * state schema is explicit and TTL-able, the production shape for
   * long-running novelty/dedup state.
   */
  private class UserTypeProcessor
      extends StatefulProcessor[Long, (Long, String), (Long, Long)] {
    @transient private var bloomState: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bloomState = getHandle.getValueState[Array[Byte]]("bloom", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 timerValues: TimerValues): Iterator[(Long, Long)] = {
      val (bloom, n) = UserTypeBloom.add(Option.when(bloomState.exists())(bloomState.get()), rows)
      bloomState.update(bloom)
      Iterator.single((key, n))
    }
  }

  def userTypeStateTws(spark: SparkSession, inDir: String, checkpointDir: String,
                       sinkDir: String, statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    import ss.implicits._
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger = 2)
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new UserTypeProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_types_sketch")
    StreamSinks.drainToSink(stream, checkpointDir, sinkDir, outputMode = "update")(identity)
    StreamSinks.readLatestByKey(spark, sinkDir, Seq("user_id"))
  }

  def compareUserStateToBatch(spark: SparkSession, inDir: String, streamed: DataFrame): DataFrame =
    compareUserState(streamed, batchUserTypeCounts(spark, inDir))

  /** The exact batch answer the streamed state must match — split out
    * so gate callers can materialize it CONCURRENTLY with the drain
    * (independent jobs back-fill the drain's idle cores). */
  def batchUserTypeCounts(spark: SparkSession, inDir: String): DataFrame =
    spark.read.parquet(inDir)
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(countDistinct(col("event_type")).as("n_exact"))

  def compareUserState(streamed: DataFrame, batch: DataFrame): DataFrame =
    streamed.join(batch, Seq("user_id"), "full_outer")
      .select(col("user_id"), coalesce(col("n_exact"), lit(-1L)).as("n_types_exact"),
        (col("n_types_sketch") === col("n_exact")).as("state_ok"))
      .orderBy("user_id")
}

/** The per-user state update both state APIs run: add the batch's
  * event types to the user's serialized bloom (a fresh one on first
  * sight); returns the new state and its distinct-type count. A
  * top-level object, so the mapGroupsWithState function that calls it
  * captures nothing and serializes to executors. */
private object UserTypeBloom {
  def add(state: Option[Array[Byte]], rows: Iterator[(Long, String)]): (Array[Byte], Long) = {
    val bloom = state.fold(BloomFilter.create(20000L, 1e-4))(BloomFilter.deserialize)
    rows.foreach { case (_, et) =>
      bloom.addKey(et.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    (bloom.serialize(), bloom.count)
  }
}
