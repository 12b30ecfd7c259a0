package graft.streaming

import graft.catalog.SketchTableIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Always-on table maintenance — [[SketchTableIO.mergeCommit]] driven
 * by a stream (the CDC-apply pattern): change batches (data columns
 * plus an `op` column, "upsert"/"delete") ARRIVE as a stream, and
 * each micro-batch becomes ONE copy-on-write commit, so the table
 * advances one readable version per batch and concurrent readers only
 * ever see fully-applied batches (snapshot isolation from the seam's
 * manifest-pointer protocol).
 *
 * Crash semantics: foreachBatch may replay a batch after a failure.
 * A merge of the SAME change set is state-idempotent — the anti-join
 * removes exactly the rows the replayed upserts re-add — so a replay
 * burns a version number but cannot corrupt the table (the same
 * guarantee class as [[StreamSinks]]' batch-id-keyed appends, reached
 * through merge algebra instead of directory naming).
 *
 * Ordering: change batches are applied in arrival order (file-source
 * mtime order); a delete in batch N+1 wins over an upsert in batch N,
 * exactly like sequential [[SketchTableIO.mergeCommit]] calls — the
 * gate's oracle replays the sequential application in SQL.
 */
object StreamMerge {

  /** Drain `inDir` (change-batch rows: data columns + `op`) as a
    * stream, merging each micro-batch into the snapshot table at
    * `tableRoot` by `key`; returns the final table read. */
  def applyChanges(spark: SparkSession, inDir: String, tableRoot: String,
                   key: String, checkpointDir: String,
                   maxFilesPerTrigger: Int = 1): DataFrame = {
    val t = new SketchTableIO(spark, tableRoot)
    StreamSinks.drain(StreamSinks.source(spark, inDir, maxFilesPerTrigger), checkpointDir) {
      (batch, _) => t.mergeCommit(batch, key)
    }
    t.read()
  }
}
