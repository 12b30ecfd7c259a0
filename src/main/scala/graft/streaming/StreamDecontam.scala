package graft.streaming

import graft.agg.GraftFunctions._
import graft.pipeline.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Always-on decontamination — [[graft.pipeline.Decontam]] as a
 * Structured Streaming stage: training documents ARRIVE as a stream,
 * the protected eval set is STATIC (a benchmark doesn't change
 * mid-run), and each micro-batch is scrubbed in place:
 *
 *   1. the eval summary (one scalable-bloom over distinct eval
 *      n-grams) is computed and broadcast once, and probed row-local
 *      inside every batch's plan through that one handle — the clean
 *      majority of every batch is dropped without any join;
 *   2. the surviving candidate n-grams semi-join the exact eval
 *      n-gram set (materialized ONCE as parquet, cached — the static
 *      side of every batch's scrub; no driver collect of row data),
 *      killing the sketch's false positives;
 *   3. per-doc overlap counts aggregate WITHIN the batch (a doc's
 *      n-grams arrive together — file-source batches never split a
 *      row — so the scrub is stateless: no watermark, no state
 *      store), and kept/flagged docs append to the idempotent
 *      parquet changelog ([[StreamSinks]]).
 *
 * Result contract: reading the sink after an AvailableNow drain
 * equals the batch operator's answer on the same corpus — asserted by
 * the gate's oracle (the plain exact n-gram intersection in SQL).
 *
 * PRECONDITION for that batch-equality claim: each doc_id arrives in
 * a single micro-batch. A document's n-grams ride in ONE row, so the
 * file source never splits a document — but if the SAME doc_id is
 * duplicated across input files that land in different batches, the
 * per-batch scrub counts each batch's rows against only that batch's
 * grams, while the batch operator counts every row against the doc
 * id's globally-merged distinct grams; the two then disagree on the
 * duplicated id. Callers with cross-file duplicate ids must dedupe
 * upstream (or accept per-arrival semantics) before relying on
 * row-for-row equality with [[graft.pipeline.Decontam]].
 */
object StreamDecontam {

  /** Drain `inDir` (train documents) as a stream, scrub against the
    * static `test` set, append (doc_id, n_overlap, keep) per doc to
    * `sinkDir`; returns the sink read. */
  def overlapStream(spark: SparkSession, inDir: String, test: DataFrame,
                    checkpointDir: String, sinkDir: String, n: Int = 3,
                    maxOverlap: Long = 0, statePartitions: Int = 8,
                    maxFilesPerTrigger: Int = 2,
                    awaitInput: () => Unit = () => ()): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    val testG = graft.pipeline.Decontam.evalGrams(test, n)
    // static side computed and broadcast once; every batch's plan
    // probes the same handle
    val sketch = graft.pipeline.Decontam.evalSketch(testG)
    // materialize the exact eval set once (executor-side write) and
    // re-read it in the stream's session: the static verify side,
    // cached across micro-batches — never collected to the driver.
    // The staging dir is operator-owned scratch (unlike the caller's
    // checkpoint/sink dirs) and is deleted after the drain.
    val testGDir = java.nio.file.Files.createTempDirectory("decontamEval")
    val testGPath = testGDir.resolve("g").toString
    testG.write.mode("overwrite").parquet(testGPath)
    val testGStatic = ss.read.parquet(testGPath).persist()

    // callers producing `inDir` concurrently (overlapping the seed
    // write with the static-side build above — guide-style
    // independent-job overlap) join here, before the schema read
    awaitInput()
    val docStream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      .select(col("doc_id").cast("long").as("doc_id"),
        shingles(words(col("text")), n).as("sh"))
    // the SAME scrub core as the batch operator — keep rules cannot
    // drift between the two
    StreamSinks.drainToSink(docStream, checkpointDir, sinkDir) { batch =>
      graft.pipeline.Decontam.scrubShingled(batch, sketch, testGStatic, maxOverlap)
    }
    testGStatic.unpersist()
    // the cached blocks are dropped and no plan reads the staging
    // parquet again — reclaim it (repeated runs would otherwise
    // accumulate orphaned temp trees)
    graft.util.Scratch.deleteTree(testGDir)
    // stream idle after the drain: compact the per-batch files (the
    // gate reads — and oracles — the compacted layout, like the other
    // drained streaming operators)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
