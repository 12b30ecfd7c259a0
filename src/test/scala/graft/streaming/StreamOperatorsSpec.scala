package graft.streaming

import graft.catalog.SketchTableIO
import graft.pipeline.TokenTable
import graft.SharedSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-equals-batch for the stateful operators that drain through
  * [[StreamSinks]]: each drains a small staged input and must match the
  * one-shot batch answer on the same input. Running them here catches
  * what only a real micro-batch shows, e.g. a state function that
  * cannot be serialized to the executors. */
class StreamOperatorsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** The sf0.001 events table as four input files. */
  private def stagedEvents(prefix: String): (java.nio.file.Path, String) = {
    val tmp = graft.util.Scratch.tempDir(prefix)
    val in = tmp.resolve("in").toString
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(in)
    (tmp, in)
  }

  private def assertStateMatchesBatch(cmp: Array[org.apache.spark.sql.Row], in: String): Unit = {
    val users = spark.read.parquet(in).select("user_id").distinct().count()
    assert(cmp.length == users, "one row per user")
    val bad = cmp.filterNot(r => r.getAs[Boolean]("state_ok"))
    assert(bad.isEmpty, s"sketch state differs from the exact count: ${bad.take(5).mkString(", ")}")
  }

  test("userTypeState (mapGroupsWithState) equals the batch distinct-type count per user") {
    val (tmp, in) = stagedEvents("userstate")
    val streamed = WindowedSketch.userTypeState(spark, in,
      tmp.resolve("cp").toString, tmp.resolve("out").toString, statePartitions = 2)
    assertStateMatchesBatch(WindowedSketch.compareUserStateToBatch(spark, in, streamed).collect(), in)
  }

  test("userTypeStateTws (transformWithState) equals the batch distinct-type count per user") {
    val (tmp, in) = stagedEvents("userstatetws")
    val streamed = WindowedSketch.userTypeStateTws(spark, in,
      tmp.resolve("cp").toString, tmp.resolve("out").toString, statePartitions = 2)
    assertStateMatchesBatch(WindowedSketch.compareUserStateToBatch(spark, in, streamed).collect(), in)
  }

  test("windowedHll equals the batch windowed count and HLL per window and event type") {
    val tmp = graft.util.Scratch.tempDir("winhll")
    val in = tmp.resolve("in").toString
    // time-ordered files replayed in mtime order, so the watermark
    // never drops on-time data
    spark.read.parquet(s"$sf/events.parquet")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(in)
    StreamSinks.pinMtimes(in)(1000000000000L, Set.empty)
    val streamed = WindowedSketch.windowedHll(spark, in,
      tmp.resolve("cp").toString, tmp.resolve("out").toString, statePartitions = 2)
    val cmp = WindowedSketch.compareWindowedToBatch(spark, in, streamed).collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getAs[Boolean]("count_ok") && r.getAs[Boolean]("hll_ok"), s"window differs: $r")
    }
  }

  test("runIncrementalTopK equals the batch top 3 per source, rank for rank") {
    val tmp = graft.util.Scratch.tempDir("topk")
    val in = tmp.resolve("in").toString
    TokenTable.load(spark, sf).repartition(4).write.mode("overwrite").parquet(in)
    val streamed = SketchStream.runIncrementalTopK(spark, in, tmp.resolve("cp").toString)
    assert(streamed.filter(!col("multi_batch_ok")).isEmpty, "expected more than one micro-batch")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"), col("rank").cast("int"), col("n_tok").cast("long"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3))).sorted.toSeq
    val w = Window.partitionBy("source").orderBy(col("n_tok").desc, col("doc_id"))
    val batch = spark.read.parquet(in)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    assert(ranks(streamed) == ranks(batch))
  }

  test("StreamMerge.applyChanges commits one version per change batch, in arrival order") {
    import spark.implicits._
    val tmp = graft.util.Scratch.tempDir("smerge")
    val root = tmp.resolve("table").toString
    new SketchTableIO(spark, root).commit(Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")).toDF("id", "v"))
    // every pair of batches writes one key differently (1: batches 0
    // and 1, 2: batches 1 and 2, 3: batches 0 and 2), so swapping any
    // two batches changes the final table
    val changes = Seq(
      Seq((1L, "A", "upsert"), (3L, "C", "upsert")),
      Seq((1L, "", "delete"), (2L, "B1", "upsert"), (4L, "d", "upsert")),
      Seq((2L, "B2", "upsert"), (3L, "", "delete")))
    StreamSinks.stageFiles(tmp.resolve("in"), changes.map(_.toDF("id", "v", "op")))
    val merged = StreamMerge.applyChanges(spark, tmp.resolve("in").toString, root, "id",
      tmp.resolve("cp").toString)
    assert(merged.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap ==
      Map(2L -> "B2", 4L -> "d", 5L -> "e"))
    assert(new SketchTableIO(spark, root).currentVersion == 4, "seed commit plus one per batch")
  }
}
