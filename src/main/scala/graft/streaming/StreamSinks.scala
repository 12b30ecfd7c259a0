package graft.streaming

import graft.util.Scratch
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * The file-stream lifecycle of every always-on streaming operator, in
 * one place: staged inputs, the source, the drain, and the changelog
 * sink. An operator states only its query and its per-batch body.
 *
 * The reference daemon runs forever and serves its state in place
 * (`csrc/bloomd/background.c` keeps filters current on disk); the
 * Spark-native analog is a streaming query over a parquet file
 * source ([[source]]), drained with `Trigger.AvailableNow` through a
 * foreachBatch body ([[drain]]). The sink form ([[drainToSink]])
 * APPENDS each micro-batch to a parquet changelog directory —
 * executors write their own partitions, nothing is collected to the
 * driver — and the operator's result is a READ of that directory.
 * For update-mode streams (upsert per key per batch) the changelog is
 * compacted on read with a last-writer-wins window over the recorded
 * batch id: exactly the changelog-table + compaction-view pattern a
 * lakehouse MERGE would give us (parquet stands in for the table
 * format here, same seam as [[graft.catalog.SketchTableIO]]).
 */
object StreamSinks {

  /** A session for running a STATEFUL streaming query with its own
    * shuffle/state partition count: every stateful operator launches
    * one state-store task per shuffle partition per micro-batch, so a
    * 32-partition session pays 32 state tasks (and 32 store commits)
    * for a 20-row batch — the dominant per-batch constant measured in
    * round 3's changelog-sink costs. `statePartitions` sizes state
    * parallelism to the query's real key cardinality (a deployment
    * decision: thousands at 10^12-row scale, a handful at gate
    * scale); 0 keeps the caller's session untouched. The partition
    * count is baked into the checkpoint on first run, which is why it
    * must be chosen per QUERY, not inherited from whatever session
    * happens to start the stream. */
  def sessionForState(spark: SparkSession, statePartitions: Int): SparkSession =
    if (statePartitions <= 0) spark
    else {
      val s = spark.newSession() // shared context, isolated SQL conf
      // newSession starts from SparkConf defaults, not runtime-set
      // values — carry over the conf the streaming semantics rely on
      s.conf.set("spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"))
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      s
    }

  /** The parquet files under `inDir` as a stream: read with the
    * schema of the files already there, `maxFilesPerTrigger` files
    * per micro-batch in modification-time order. */
  def source(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int): DataFrame = {
    val schema = spark.read.parquet(inDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
  }

  /** Run `stream` until its input is drained (`Trigger.AvailableNow`:
    * every file present at start, then the query stops), calling
    * `body(batch, batchId)` once per micro-batch on the driver.
    * Returns how many micro-batches the body ran. */
  def drain(stream: DataFrame, checkpointDir: String, outputMode: String = "append")(
      body: (DataFrame, Long) => Unit): Long = {
    // micro-batches run one after another on the stream's thread;
    // the atomic publishes the count to the caller's thread
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId)
        batches.incrementAndGet()
        ()
      }
      .start()
      .awaitTermination()
    batches.get()
  }

  /** [[drain]] into the changelog at `sinkDir`: each micro-batch's
    * `body(batch)` is appended under its batch id ([[appendBatch]]).
    * The sink is first [[seed]]ed with the schema of `body` applied to
    * an empty frame of the stream's schema — analysis only, nothing
    * runs — so the seed and every batch agree by construction. */
  def drainToSink(stream: DataFrame, checkpointDir: String, sinkDir: String,
                  outputMode: String = "append")(body: DataFrame => DataFrame): Long = {
    val ss = stream.sparkSession
    val empty = ss.createDataFrame(java.util.Collections.emptyList[Row](), stream.schema)
    seed(ss, body(empty).schema, sinkDir)
    drain(stream, checkpointDir, outputMode) { (batch, batchId) =>
      appendBatch(body(batch), batchId, sinkDir)
    }
  }

  /** foreachBatch body: write the micro-batch into its OWN partition
    * directory (`batch_id=N`), mode overwrite — a distributed write,
    * never a driver collect, and IDEMPOTENT per batch id: Structured
    * Streaming's exactly-once contract for foreachBatch requires the
    * sink write to be idempotent on (batchId) because a failed batch
    * is re-run with the same id — a plain append would duplicate the
    * retried batch's rows, an overwrite of the batch's directory
    * cannot. `batch_id` resurfaces on read as the inferred partition
    * column.
    * `maxFiles` bounds the batch's output file count (micro-batches
    * inherit the session's shuffle partition count, so a 20-row batch
    * would otherwise commit 32 near-empty files — per-batch task +
    * file constants were the measured cost of the changelog sinks in
    * round 3). The write stays distributed (`coalesce`, never a
    * driver collect); pass 0 to keep the batch's own partitioning for
    * genuinely large batches. */
  def appendBatch(batch: DataFrame, batchId: Long, sinkDir: String,
                  maxFiles: Int = 4): Unit =
    // coalesce never increases partition count, so small batches merge
    // to <= maxFiles tasks while an already-narrow batch is untouched
    (if (maxFiles > 0) batch.coalesce(maxFiles) else batch)
      .write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")

  /** Seed the changelog with a zero-row file carrying the schema, so
    * reading the sink is well-defined even when every batch is empty. */
  def seed(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
           sinkDir: String): Unit =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$sinkDir/batch_id=-1")

  /** Append-mode result: each row was emitted exactly once. */
  def readAppend(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir).drop("batch_id")

  /** Changelog compaction, INCREMENTAL: rewrite only the batch
    * directories that still hold more than one data file into one
    * chunky file each (a single distributed repartition-and-write for
    * all of them together — no driver collect), then swap each batch
    * directory individually. Already-compacted batches are not read,
    * not rewritten, not even touched (file identity and mtimes
    * preserved) — so a periodic caller pays O(new batches) per
    * invocation, not O(history): the dirty-page discipline of the
    * reference's write-back (`csrc/libbloom/bitmap.c:271-334`), where
    * only pages written since the last flush hit the disk again.
    *
    * Because the swap is per-batch, compaction does NOT require the
    * stream to be idle: a batch directory being committed right now
    * is skipped (it holds a `_temporary` child until Spark's rename),
    * and untouched batch ids never move. For strict serialization
    * with retries of the in-flight batch id, call from within the
    * foreachBatch body (micro-batches run serially) — e.g. every K
    * batches; an AvailableNow drain may simply call it afterwards. */
  def compact(spark: SparkSession, sinkDir: String): Unit = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val live = Paths.get(sinkDir)
    val legacyOld = Paths.get(sinkDir + ".old")
    val oldRoot = Paths.get(sinkDir + ".oldbatches")
    val tmpRoot = Paths.get(sinkDir + ".compacting")
    def mv(a: java.nio.file.Path, b: java.nio.file.Path): Unit =
      try JFiles.move(a, b, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException => JFiles.move(a, b) }
    // Legacy recovery: a WHOLE-TREE .old from the pre-incremental
    // protocol is not safely deletable — a crash between its two
    // renames left .old as the only complete copy. Merge any batch
    // directory .old has and live lacks back into live (live's copy
    // wins when both exist — it is newer-or-equal by overwrite
    // semantics), then drop the tree.
    if (JFiles.exists(legacyOld)) {
      JFiles.createDirectories(live)
      Scratch.list(legacyOld).foreach { dir =>
        val dst = live.resolve(dir.getFileName)
        if (JFiles.isDirectory(dir) && !JFiles.exists(dst) &&
          dir.getFileName.toString.startsWith("batch_id=")) mv(dir, dst)
      }
      Scratch.deleteTree(legacyOld)
    }
    // Per-batch recovery: an entry under .oldbatches means a prior
    // per-batch swap died between its renames. If live lost the batch
    // (crash after move-out), restore the original; if live has it
    // (crash after move-in), the saved copy is superseded garbage.
    Scratch.list(oldRoot).foreach { dir =>
      val dst = live.resolve(dir.getFileName)
      if (!JFiles.exists(dst)) mv(dir, dst) else Scratch.deleteTree(dir)
    }
    Scratch.deleteTree(oldRoot)
    Scratch.deleteTree(tmpRoot) // always garbage: writes into it never committed
    // The dirty set: batch dirs still holding >1 data file. One data
    // file = already compacted (or written pre-coalesced) — skipped
    // untouched. A dir with a `_temporary` child is a batch COMMITTING
    // RIGHT NOW — skipped this round, compacted next time.
    val dirty = Scratch.list(live).filter { d =>
      JFiles.isDirectory(d) && d.getFileName.toString.startsWith("batch_id=") && {
        val kids = Scratch.list(d)
        kids.count(_.getFileName.toString.startsWith("part-")) > 1 &&
          !kids.exists(_.getFileName.toString == "_temporary")
      }
    }
    if (dirty.isEmpty) return
    // one distributed job rewrites ALL dirty batches: hash-partition
    // by batch id so each lands in exactly one task -> one file per
    // batch_id=N dir under the staging root
    spark.read.option("basePath", sinkDir)
      .parquet(dirty.map(_.toString): _*)
      .repartition(col("batch_id"))
      .write.partitionBy("batch_id").mode("overwrite").parquet(tmpRoot.toString)
    JFiles.createDirectories(oldRoot)
    dirty.foreach { d =>
      val name = d.getFileName
      val compacted = tmpRoot.resolve(name)
      // a dirty batch whose rows were ALL null-partition-filtered
      // cannot happen (batch_id comes from the dir name), but guard:
      // only swap when the compacted copy exists
      if (JFiles.exists(compacted)) {
        mv(d, oldRoot.resolve(name))
        mv(compacted, d)
        Scratch.deleteTree(oldRoot.resolve(name))
      }
    }
    Scratch.deleteTree(oldRoot)
    Scratch.deleteTree(tmpRoot)
  }

  /** Update-mode result: compact the changelog to the LAST emission
    * per key (upsert semantics). Within one batch a key appears at
    * most once (it's a groupBy/state output), so batch_id is a total
    * order per key. */
  def readLatestByKey(spark: SparkSession, sinkDir: String, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    spark.read.parquet(sinkDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Pin ascending mtimes on the NEW parquet files under `in` (those
    * not in `exclude`), filename order from `base`, one minute apart —
    * total control of file arrival order for a staged stream (the
    * file source batches by mtime). Returns the grown exclude set. */
  def pinMtimes(in: String)(base: Long, exclude: Set[String]): Set[String] = {
    val ps = Scratch.list(java.nio.file.Paths.get(in))
      .filter(p => p.toString.endsWith(".parquet") && !exclude.contains(p.toString))
    ps.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
    }
    exclude ++ ps.map(_.toString)
  }

  /** Stage `frames` as a one-file-per-trigger stream input: frame `i`
    * is written as one parquet file and copied to `in/file<iii>.parquet`;
    * [[pinMtimes]] then orders the files by name, so a
    * `maxFilesPerTrigger = 1` drain replays one frame per micro-batch,
    * in order. Each frame's write directory (`stage<i>` beside `in`) is
    * deleted once copied. */
  def stageFiles(in: Path, frames: Seq[DataFrame]): Unit = {
    Files.createDirectories(in)
    frames.zipWithIndex.foreach { case (frame, i) =>
      val stage = in.resolveSibling(s"stage$i")
      frame.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      Scratch.list(stage).filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, in.resolve(f"file$i%03d.parquet")))
      Scratch.deleteTree(stage)
    }
    pinMtimes(in.toString)(1000000000000L, Set.empty)
  }
}
