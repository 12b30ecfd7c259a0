package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Always-on incremental near-dedup — [[graft.pipeline.Dedup.dedupAgainst]]'s
 * cross-corpus half as a Structured Streaming stage: the fresh crawl
 * ARRIVES as a stream, the released corpus is STATIC (snapshots don't
 * change mid-run), and each micro-batch is scrubbed in place through
 * the SAME core as the batch operator ([[graft.pipeline.Dedup.corpusMatches]]
 * — keep rules can't drift between the two):
 *
 *   1. the corpus's LSH index (distinct trigram shingles + banded
 *      MinHash bucket rows) is computed ONCE, materialized to parquet
 *      executor-side and cached — the static side of every batch's
 *      candidate join; no driver collect of row data;
 *   2. per batch, the batch's bands equality-join the corpus index,
 *      survivors verify with exact Jaccard, and each batch doc gets
 *      (n_match_corpus, keep = no match) — STATELESS: a doc's text
 *      rides one row, the corpus is fixed, so batch boundaries cannot
 *      change any doc's answer;
 *   3. results append to the idempotent parquet changelog
 *      ([[StreamSinks]]), compacted after the drain.
 *
 * Contract split vs the batch operator: the stream scrubs against the
 * CORPUS only. Intra-crawl (new-new) suppression is inherently
 * cross-batch stateful — that half belongs to the periodic batch
 * compaction job ([[graft.pipeline.Dedup.dedupAgainst]] over the
 * accumulated crawl), exactly like the reference splits hot-path
 * checks from background maintenance sweeps
 * (`csrc/bloomd/background.c:100-180`).
 *
 * PRECONDITION (as [[StreamDecontam]]): each doc_id appears once in
 * the stream; ids are disjoint from the corpus's. Duplicated ids
 * yield one changelog row per arrival.
 */
object StreamDedupIncremental {

  /** Drain `inDir` (the fresh crawl) as a stream, scrub against the
    * static `corpus`, append (doc_id, n_match_corpus, keep) per doc
    * to `sinkDir`; returns the compacted sink read. */
  def scrubStream(spark: SparkSession, inDir: String, corpus: DataFrame,
                  checkpointDir: String, sinkDir: String,
                  minJ: Double = 0.5, numPerms: Int = 128, bands: Int = 32,
                  statePartitions: Int = 8,
                  maxFilesPerTrigger: Int = 2,
                  awaitInput: () => Unit = () => ()): DataFrame = {
    import graft.pipeline.Dedup
    import graft.pipeline.TextFunctions.{shingles, words}
    val ss = StreamSinks.sessionForState(spark, statePartitions)

    // static side: corpus shingles + bucket index, materialized once
    // (executor-side writes) and re-read cached in the stream session
    val stagingDir = java.nio.file.Files.createTempDirectory("dedupIncrIdx")
    val corpusSh = corpus.select(col("doc_id").cast("long").as("id"),
      shingles(words(col("text")), 3).as("sh"))
    corpusSh.write.mode("overwrite").parquet(stagingDir.resolve("sh").toString)
    val corpusShStatic = ss.read.parquet(stagingDir.resolve("sh").toString).persist()
    Dedup.lshBuckets(corpusShStatic, numPerms, bands)
      .write.mode("overwrite").parquet(stagingDir.resolve("idx").toString)
    val corpusIdxStatic = ss.read.parquet(stagingDir.resolve("idx").toString).persist()

    // callers producing `inDir` concurrently (seed write overlapped
    // with the corpus shingle/index build above) join here
    awaitInput()
    val docStream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      .select(col("doc_id").cast("long").as("id"), col("text"))
    StreamSinks.drainToSink(docStream, checkpointDir, sinkDir) { batch =>
      val batchSh = batch.select(col("id"),
        shingles(words(col("text")), 3).as("sh"))
      val mc = Dedup.corpusMatches(batchSh, corpusShStatic, corpusIdxStatic,
          minJ, numPerms, bands)
        .groupBy(col("id_n").as("doc_id"))
        .agg(count(lit(1)).as("mc"))
      batch.select(col("id").as("doc_id"))
        .join(mc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("mc"), lit(0L)).as("n_match_corpus"))
        .withColumn("keep", col("n_match_corpus") === 0)
    }
    corpusShStatic.unpersist()
    corpusIdxStatic.unpersist()
    // reclaim the operator-owned staging index (caller owns
    // checkpoint/sink dirs)
    graft.util.Scratch.deleteTree(stagingDir)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
