package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Always-on retrieval — [[graft.pipeline.Retrieval]] as a Structured
 * Streaming stage: queries ARRIVE as a stream (the production shape:
 * an eval-contamination checker, a "which shard answered this"
 * debugger, an online domain-affinity scorer), the CORPUS INDEX is
 * static. The expensive sides — posting lists and per-term stats —
 * are computed once, materialized to scratch parquet, and cached in
 * the stream's session; every micro-batch joins only its own query
 * terms against them through the SAME `bm25FromIndex` core as the
 * batch operator, so scoring cannot drift between the two.
 *
 * Stateless by construction: a query's terms ride in one row, so
 * per-query top-k completes within its batch — no watermark, no
 * state store — and batch boundaries cannot change any answer. The
 * sink is the idempotent per-batch parquet changelog
 * ([[StreamSinks]]), compacted after the drain.
 */
object StreamRetrieval {

  /** Drain `inDir` (query rows: q_id, terms array) as a stream,
    * score against static `corpus` docs, append
    * (q_id, rank, doc_id, score_micros, tfidf_micros) per query to
    * `sinkDir`; returns the sink read. */
  def bm25Stream(spark: SparkSession, inDir: String, corpus: DataFrame,
                 checkpointDir: String, sinkDir: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxDf: Long = Long.MaxValue, statePartitions: Int = 8,
                 maxFilesPerTrigger: Int = 2,
                 awaitInput: () => Unit = () => ()): DataFrame = {
    val ss = StreamSinks.sessionForState(spark, statePartitions)
    // build-once static sides, materialized executor-side (never
    // collected) and cached across micro-batches; scratch is
    // operator-owned and reclaimed after the drain
    val scratch = java.nio.file.Files.createTempDirectory("retrievalIdx")
    val idxPath = scratch.resolve("idx").toString
    val statsPath = scratch.resolve("stats").toString
    val idx = graft.pipeline.Retrieval.invertedIndex(corpus)
    idx.write.mode("overwrite").parquet(idxPath)
    // cache the postings PARTITIONED BY doc_id: the cached
    // InMemoryRelation reports HashPartitioning(doc_id), which
    // satisfies the score agg's ClusteredDistribution(q_id, doc_id) —
    // so EVERY micro-batch's per-(query, doc) sum runs exchange-free;
    // the one index-sized repartition is paid once at build time
    val idxStatic = ss.read.parquet(idxPath)
      .repartition(col("doc_id")).persist()
    graft.pipeline.Retrieval.termStats(idxStatic)
      .crossJoin(broadcast(graft.pipeline.Retrieval.corpusStats(idxStatic)))
      .write.mode("overwrite").parquet(statsPath)
    val statsStatic = ss.read.parquet(statsPath).persist()

    // callers producing `inDir` concurrently (seed write overlapped
    // with the index/stats build above) join here
    awaitInput()
    StreamSinks.drainToSink(StreamSinks.source(ss, inDir, maxFilesPerTrigger),
        checkpointDir, sinkDir) { batch =>
      graft.pipeline.Retrieval.bm25FromIndex(idxStatic, statsStatic, batch, k, k1, b, maxDf)
    }
    idxStatic.unpersist()
    statsStatic.unpersist()
    graft.util.Scratch.deleteTree(scratch)
    StreamSinks.compact(spark, sinkDir)
    StreamSinks.readAppend(spark, sinkDir)
  }
}
