package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming exact deduplication — the always-on form of
 * [[graft.pipeline.Dedup.exactDedup]]: a file stream of documents,
 * `dropDuplicates` on the content digest, append-mode output of the
 * FIRST-ARRIVED row of each clique. Replaying the corpus in doc_id
 * order makes first-arrived == lowest doc_id, i.e. the batch
 * operator's keep rule — asserted by the gate query.
 *
 * State is one row per DISTINCT digest (bounded by unique content,
 * not rows). At 10^12 sequences the state store would be a keyed
 * external table (the same seam as SketchStream's foreachBatch
 * merge); watermarked `dropDuplicatesWithinWatermark` bounds state
 * when near-time duplicates are the target.
 *
 * The result path is DISTRIBUTED: each micro-batch appends its kept
 * rows to a parquet sink ([[StreamSinks.appendBatch]]) and the
 * function returns a read of that sink — no row ever passes through
 * the driver, so the operator's memory footprint is independent of
 * the kept-row count (the always-on posture of the reference daemon,
 * `csrc/bloomd/background.c`).
 */
object StreamDedup {

  /** Drain `inDir` as a stream, dedup by md5(text), append kept rows
    * to `sinkDir`; returns (fp, doc_id, n_batches) read back from the
    * sink. */
  def dedupExact(spark: SparkSession, inDir: String, checkpointDir: String,
                 sinkDir: String, maxFilesPerTrigger: Int = 2,
                 statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      .select(md5(col("text")).as("fp"), col("doc_id").cast("long").as("doc_id"))
      .dropDuplicates("fp")
    val batches = StreamSinks.drainToSink(stream, checkpointDir, sinkDir)(identity)

    // stream idle after the AvailableNow drain: compact the changelog
    // (the gate reads — and oracles — the compacted layout)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
      .withColumn("n_batches", lit(batches))
  }

  /**
   * Bounded-state streaming dedup for NEAR-TIME duplicates:
   * `dropDuplicatesWithinWatermark` keeps a digest in state only while
   * the watermark hasn't passed its event time + `delay`, so state is
   * bounded by the duplicate horizon instead of growing with every
   * distinct document ever seen — the always-on mode for unbounded
   * streams. The contract is the horizon: duplicates farther apart
   * than `delay` (by event time) can BOTH be emitted, by design.
   * Result path: the same idempotent per-batch changelog sink as
   * [[dedupExact]].
   */
  def dedupWithinWatermark(spark: SparkSession, inDir: String, checkpointDir: String,
                           sinkDir: String, tsCol: String, delay: String,
                           maxFilesPerTrigger: Int = 1,
                           statePartitions: Int = 8): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    val stream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      .select(md5(col("text")).as("fp"), col("doc_id").cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("fp")
    StreamSinks.drainToSink(stream, checkpointDir, sinkDir)(identity)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
