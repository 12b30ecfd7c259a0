package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Always-on exact-substring scrub — [[graft.pipeline.Dedup.substringDedup]]'s
 * cross-corpus half as a Structured Streaming stage: fresh pre-tokenized
 * documents ARRIVE as a stream, the released corpus is STATIC, and any
 * L-token window of a stream doc that appears ANYWHERE in the corpus
 * is cut (the corpus copy is by definition the earlier occurrence, so
 * every matching stream window is non-canonical — no first-wins vote
 * is needed on the stream side):
 *
 *   1. the corpus's DISTINCT window-key set is computed ONCE,
 *      materialized to parquet executor-side and cached — the static
 *      join side of every batch (keys only, 16 hex chars per distinct
 *      window: never token content, no driver collect);
 *   2. per batch, the batch docs' rolling windows semi-join the
 *      corpus keys and the survivors feed the SAME span-merge + clean
 *      core as the batch operator ([[graft.pipeline.Dedup.cutFlagged]]
 *      — cut rules can't drift between the two); STATELESS: a doc's
 *      tokens ride one row and the corpus is fixed, so batch
 *      boundaries cannot change any doc's answer;
 *   3. per-doc results (n_tok, matched windows, cut size, cleaned
 *      token csv) append to the idempotent parquet changelog
 *      ([[StreamSinks]]), compacted after the drain.
 *
 * Contract split vs the batch operator (as [[StreamDedupIncremental]]):
 * the stream scrubs against the CORPUS only. Intra-crawl (new-new)
 * substring dedup is inherently cross-batch stateful — that half
 * belongs to the periodic batch job ([[graft.pipeline.Dedup.substringDedup]]
 * over the accumulated crawl), the reference's hot-path/background
 * split (`csrc/bloomd/background.c:100-180`).
 *
 * PRECONDITION (as [[StreamDecontam]]): each doc_id appears once in
 * the stream. Duplicated ids yield one changelog row per arrival.
 */
object StreamSubstringScrub {

  /** Drain `inDir` (fresh pre-tokenized docs: doc_id, tokens) as a
    * stream, cut every corpus-matching L-window, append
    * (doc_id, n_tok, n_dup_windows, n_cut, clean_csv) per doc to
    * `sinkDir`; returns the compacted sink read. */
  def scrubStream(spark: SparkSession, inDir: String, corpus: DataFrame,
                  checkpointDir: String, sinkDir: String, L: Int = 8,
                  statePartitions: Int = 8,
                  maxFilesPerTrigger: Int = 2,
                  awaitInput: () => Unit = () => ()): DataFrame = {
    import graft.pipeline.Dedup
    val ss = StreamSinks.sessionForState(spark, statePartitions)

    // static side: the corpus's distinct window keys, materialized
    // once (executor-side writes) and re-read cached in the stream
    // session
    val stagingDir = java.nio.file.Files.createTempDirectory("substrScrubIdx")
    Dedup.substringWindows(Dedup.substringBase(corpus), L)
      .select("wkey").distinct()
      .write.mode("overwrite").parquet(stagingDir.resolve("keys").toString)
    val corpusKeys = ss.read.parquet(stagingDir.resolve("keys").toString).persist()

    // callers producing `inDir` concurrently (seed write overlapped
    // with the corpus window-key build above) join here
    awaitInput()
    val docStream = StreamSinks.source(ss, inDir, maxFilesPerTrigger)
      .select(col("doc_id"), col("tokens"))
    StreamSinks.drainToSink(docStream, checkpointDir, sinkDir) { batch =>
      val base = Dedup.substringBase(batch)
      val flagged = Dedup.substringWindows(base, L)
        .join(corpusKeys, Seq("wkey"), "left_semi")
        .select("doc_id", "pos")
      Dedup.cutFlagged(base, flagged, L)
    }
    corpusKeys.unpersist()
    // reclaim the operator-owned staging index (caller owns
    // checkpoint/sink dirs)
    graft.util.Scratch.deleteTree(stagingDir)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
