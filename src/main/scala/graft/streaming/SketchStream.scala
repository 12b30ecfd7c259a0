package graft.streaming

import graft.agg.GraftFunctions._
import graft.sketch.{BloomFilter, FrequentItems, Hll, SketchCodec, TopK}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/**
 * Incremental sketch maintenance with Structured Streaming — the
 * Spark analog of the reference daemon's always-on updater with
 * periodic flush (`csrc/bloomd/background.c:100-139`): each
 * micro-batch builds PARTIAL per-group sketches with the same
 * Catalyst aggregates the batch path uses, and foreachBatch
 * OR-merges them into the running sketch state (bloomd's
 * flush-interval write-back). Because the sketches are mergeable and
 * commutative, the streaming result is IDENTICAL to a one-shot batch
 * aggregation over the same rows — asserted by compareToBatch.
 *
 * State is catalog-sized (one sketch row per group), never
 * row-sized: at 10^12 sequences the merge target is a sketch table
 * (Delta/Iceberg MERGE in production; an in-memory map here), not
 * per-key state, so checkpoint size is independent of data volume.
 */
object SketchStream {

  /** The token stream the sketch updaters drain: one (source, token)
    * row per token of each arriving document. */
  private def tokenStream(spark: SparkSession, inDir: String,
                          maxFilesPerTrigger: Int): DataFrame =
    StreamSinks.source(spark, inDir, maxFilesPerTrigger)
      .select(col("source"), explode(col("tokens")).as("token"))

  /** Driver-side running state of one sketch column: merge each
    * collected partial (one row per source) into `state` under its
    * source name, through the family's codec. */
  private def mergeByName[S <: AnyRef](state: TrieMap[String, S], codec: SketchCodec[S],
                                       partials: Seq[Row], column: String): Unit =
    partials.foreach { r =>
      val part = codec.deserialize(r.getAs[Array[Byte]](column))
      state.updateWith(r.getAs[String]("source"))(prev => Some(prev.fold(part)(codec.merge(_, part))))
    }

  /**
   * Always-on exact top-k over the stream: per micro-batch TopK
   * partials (k rows per source per batch reach the driver) merged
   * into k-row running state. TopK's merge is EXACT under any batch
   * boundaries, so unlike the heavy-hitter CONTRACT gate the drained
   * state must equal the one-shot batch answer row for row — the
   * gate emits the ranked rows themselves and DuckDB replays them
   * with a row_number() window.
   */
  def runIncrementalTopK(spark: SparkSession, inDir: String, checkpointDir: String,
                         k: Int = 3, maxFilesPerTrigger: Int = 2): DataFrame = {
    import spark.implicits._
    val state = TrieMap.empty[String, TopK]
    val docs = StreamSinks.source(spark, inDir, maxFilesPerTrigger)
      .select(col("doc_id"), col("n_tok"), col("source"))
    val batches = StreamSinks.drain(docs, checkpointDir) { (batch, _) =>
      val partials = batch.groupBy("source")
        .agg(topk_agg(col("n_tok"), col("doc_id"), k).as("tk"))
        .collect()
      mergeByName(state, TopK, partials.toSeq, "tk")
    }
    val rows = state.toSeq.flatMap { case (src, tk) =>
      tk.result.zipWithIndex.map { case ((score, item), i) => (src, i + 1, score, item) }
    }
    rows.toDF("source", "rank", "n_tok", "doc_id")
      .withColumn("multi_batch_ok", lit(batches > 1))
  }

  /**
   * Streams the parquet files under `inDir` (`maxFilesPerTrigger`
   * files per micro-batch, drained to the end of the input), building
   * per-source token sketches incrementally. Returns the final merged
   * state as a DataFrame (source, bloom, hll, n_rows, n_batches).
   */
  def runIncremental(spark: SparkSession, inDir: String, checkpointDir: String,
                     capacity: Long = 100000L, fpProb: Double = 1e-4,
                     maxFilesPerTrigger: Int = 2): DataFrame = {
    import spark.implicits._
    val blooms = TrieMap.empty[String, BloomFilter]
    val hlls = TrieMap.empty[String, Hll]
    val rowCounts = TrieMap.empty[String, Long]
    val batches = StreamSinks.drain(tokenStream(spark, inDir, maxFilesPerTrigger), checkpointDir) {
      (batch, _) =>
        val partials = batch.groupBy("source")
          .agg(
            bloom_agg(col("token").cast("string"), capacity, fpProb).as("bloom"),
            hll_agg(col("token").cast("string"), 14).as("hll"),
            count(lit(1)).as("n"))
          .collect() // one small row per group: the sketch "flush"
          .toSeq
        mergeByName(blooms, BloomFilter, partials, "bloom")
        mergeByName(hlls, Hll, partials, "hll")
        partials.foreach { r =>
          rowCounts.updateWith(r.getAs[String]("source"))(n => Some(n.getOrElse(0L) + r.getAs[Long]("n")))
        }
    }
    val rows = blooms.toSeq.map { case (src, bloom) =>
      (src, BloomFilter.serialize(bloom), Hll.serialize(hlls(src)), rowCounts(src))
    }
    rows.toDF("source", "bloom", "hll", "n_rows")
      .withColumn("n_batches", lit(batches))
  }

  /**
   * The PRODUCTION shape of the always-on updater: every micro-batch
   * builds partial sketches, merges them with the current snapshot of
   * a versioned sketch table ENTIRELY as a distributed job (union ->
   * merge aggregates — no driver collect anywhere), and commits the
   * result as a new immutable version. The table is the durable state
   * (the daemon's data_dir with time travel): each commit is a
   * consistent point-in-time view, and the lineage of `batch_id`
   * metrics makes retried micro-batches idempotent — a batch whose id
   * is already recorded in the latest manifest is skipped, which is
   * the foreachBatch exactly-once contract over a versioned table
   * (Iceberg/Delta MERGE in production, [[graft.catalog.SketchTableIO]]
   * here).
   *
   * Returns the FINAL snapshot (source, bloom, hll, n_rows,
   * n_batches); history stays queryable via `io.read(version)`.
   */
  def runIncrementalToTable(spark: SparkSession, inDir: String, checkpointDir: String,
                            io: graft.catalog.SketchTableIO,
                            capacity: Long = 100000L, fpProb: Double = 1e-4,
                            maxFilesPerTrigger: Int = 2): DataFrame = {
    StreamSinks.drain(tokenStream(spark, inDir, maxFilesPerTrigger), checkpointDir) { (batch, batchId) =>
      val already = io.currentVersion > 0 &&
        """"batch_id":(\d+)""".r
          .findFirstMatchIn(io.manifest(io.currentVersion))
          .exists(_.group(1).toLong == batchId)
      if (!already) {
        val partial = batch.groupBy("source").agg(
          bloom_agg(col("token").cast("string"), capacity, fpProb).as("bloom"),
          hll_agg(col("token").cast("string"), 14).as("hll"),
          count(lit(1)).as("n_rows"))
        val merged =
          if (io.currentVersion == 0) partial
          else io.read()
            .unionByName(partial)
            .groupBy("source").agg(
              bloom_merge_agg(col("bloom")).as("bloom"),
              hll_merge_agg(col("hll")).as("hll"),
              sum(col("n_rows")).as("n_rows"))
        io.commit(merged, Map("batch_id" -> batchId))
      }
    }
    io.read().withColumn("n_batches", lit(io.currentVersion))
  }

  /**
   * Always-on heavy hitters: per micro-batch Misra–Gries partials
   * (freq_agg) merged into catalog-sized running state — the
   * mergeable-summaries combine keeps the published guarantee under
   * the stream's arbitrary batch boundaries exactly as it does under
   * batch partial aggregation. Returns (source, freq, n_batches).
   */
  def runIncrementalFreq(spark: SparkSession, inDir: String, checkpointDir: String,
                         k: Int = 32, maxFilesPerTrigger: Int = 2): DataFrame = {
    import spark.implicits._
    val state = TrieMap.empty[String, FrequentItems]
    val batches = StreamSinks.drain(tokenStream(spark, inDir, maxFilesPerTrigger), checkpointDir) {
      (batch, _) =>
        val partials = batch.groupBy("source")
          .agg(freq_agg(col("token").cast("string"), k).as("freq"))
          .collect() // one summary row per group — the sketch "flush"
        mergeByName(state, FrequentItems, partials.toSeq, "freq")
    }
    state.toSeq.map { case (src, s) => (src, FrequentItems.serialize(s)) }
      .toDF("source", "freq")
      .withColumn("n_batches", lit(batches))
  }

  /**
   * Streaming heavy-hitter contract vs exact per-token truth: for
   * every (source, token) the summary must satisfy the merge-order-
   * invariant guarantee — lower estimate <= true <= estimate + error,
   * error*(k+1) <= n, weight conserved, any token with true > error
   * tracked — regardless of how the stream was batched.
   */
  def compareFreqToBatch(spark: SparkSession, inDir: String, streamed: DataFrame,
                         k: Int = 32): DataFrame =
    compareFreq(streamed, batchFreqTruth(spark, inDir), k)

  /** Exact (source, token) truth + per-source totals — split out so
    * gate callers can materialize it CONCURRENTLY with the drain. */
  def batchFreqTruth(spark: SparkSession, inDir: String): DataFrame = {
    val tokens = spark.read.parquet(inDir)
      .select(col("source"), explode(col("tokens")).as("tok"))
      .select(col("source"), col("tok").cast("string").as("token"))
    val truth = tokens.groupBy("source", "token").agg(count(lit(1)).as("m_true"))
    val totals = tokens.groupBy("source").agg(count(lit(1)).as("n"))
    truth.join(totals, Seq("source"))
  }

  def compareFreq(streamed: DataFrame, truthWithTotals: DataFrame,
                  k: Int = 32): DataFrame = {
    val est = freq_estimate(col("freq"), col("token"))
    truthWithTotals.join(broadcast(streamed), Seq("source"))
      .select(col("source"), col("n_batches"), col("n"), col("freq"),
        (est <= col("m_true") && col("m_true") <= est + freq_error(col("freq"))).as("g_ok"),
        (col("m_true") <= freq_error(col("freq")) || est > 0L).as("h_ok"))
      .groupBy("source")
      .agg(
        (min(col("n_batches")) > 1L).as("multi_batch_ok"),
        (first(freq_total(col("freq"))) === first(col("n"))).as("rows_ok"),
        min(col("g_ok")).as("guarantee_ok"),
        min(col("h_ok")).as("heavy_tracked_ok"),
        (first(freq_error(col("freq"))) * (k + 1) <= first(col("n"))).as("err_bound_ok"))
      .orderBy("source")
  }

  /**
   * The streaming-equals-batch contract: bloom membership bits, bloom
   * estimate, and HLL estimate of the incrementally-merged sketches
   * must equal a one-shot batch aggregation over the same input.
   */
  def compareToBatch(spark: SparkSession, inDir: String, streamed: DataFrame,
                     capacity: Long = 100000L, fpProb: Double = 1e-4): DataFrame =
    compareSketches(streamed, batchSketches(spark, inDir, capacity, fpProb))

  /** One-shot batch sketches — split out so gate callers can
    * materialize them CONCURRENTLY with the drain. */
  def batchSketches(spark: SparkSession, inDir: String,
                    capacity: Long = 100000L, fpProb: Double = 1e-4): DataFrame =
    spark.read.parquet(inDir)
      .select(col("source"), explode(col("tokens")).as("token"))
      .groupBy("source").agg(
        bloom_agg(col("token").cast("string"), capacity, fpProb).as("bloom_b"),
        hll_agg(col("token").cast("string"), 14).as("hll_b"),
        count(lit(1)).as("n_b"))

  def compareSketches(streamed: DataFrame, batch: DataFrame): DataFrame = {
    streamed.join(batch, Seq("source"))
      .select(col("source"), col("n_batches"),
        (col("n_rows") === col("n_b")).as("rows_ok"),
        (bloom_estimate(col("bloom")) === bloom_estimate(col("bloom_b"))).as("bloom_ok"),
        (hll_estimate(col("hll")) === hll_estimate(col("hll_b"))).as("hll_ok"))
      .orderBy("source")
  }
}
