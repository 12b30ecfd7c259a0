package graft.pipeline

import graft.agg.GraftFunctions._
import graft.sketch.BloomFilter
import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kill/resume contract of the checkpointed sketch build, and the
  * merge (rollup) aggregates it relies on. */
class ResumeSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("build crashes after first batch, resumes from lineage, folds to the single-shot result") {
    val tmp = java.nio.file.Files.createTempDirectory("resumespec")
    val in = tmp.resolve("in").toString
    TokenTable.load(spark, dir).repartition(8).write.mode("overwrite").parquet(in)

    val ckpt = tmp.resolve("ckpt").toString
    val crashed = intercept[SketchBuildJob.InjectedFailure] {
      SketchBuildJob.run(spark, in, ckpt, filesPerBatch = 2, failAfterBatches = 1)
    }
    assert(crashed.getMessage.contains("injected"))
    // journal shows exactly one durable batch
    val lineage1 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(ckpt, "lineage.jsonl"))
    assert(lineage1.size == 1)

    val resumed = SketchBuildJob.run(spark, in, ckpt, filesPerBatch = 2)
    assert(resumed.batchesSkipped == 1, "resume must skip the checkpointed batch")
    assert(resumed.batchesRun == 3, "8 files / 2 per batch - 1 done = 3 to run")

    val direct = spark.read.parquet(in)
      .select(col("source"), explode(col("tokens")).as("token"))
      .groupBy("source").agg(
        bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("bloom_d"),
        count(lit(1)).as("n_d"))
    val joined = resumed.sketches.join(direct, Seq("source")).collect()
    assert(joined.length == 20)
    joined.foreach { r =>
      val merged = BloomFilter.deserialize(r.getAs[Array[Byte]]("bloom"))
      val one = BloomFilter.deserialize(r.getAs[Array[Byte]]("bloom_d"))
      assert(merged.serialize().drop(512).sameElements(one.serialize().drop(512)),
        s"bloom bits must be identical for ${r.getString(0)}")
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n_d"))
    }
  }

  test("merge aggregates: folding per-source sketches equals direct global aggregation") {
    val toks = TokenTable.tokens(spark, dir).select(col("source"), col("token").cast("string").as("k"))
    val perSource = toks.groupBy("source").agg(
      bloom_agg(col("k"), 50000L, 1e-3).as("bloom"),
      hll_agg(col("k"), 12).as("hll"))
    val rolled = perSource.agg(
      bloom_merge_agg(col("bloom")).as("bloom"), hll_merge_agg(col("hll")).as("hll"))
      .select(bloom_estimate(col("bloom")).as("be"), hll_estimate(col("hll")).as("he"))
      .head()
    val direct = toks.agg(bloom_agg(col("k"), 50000L, 1e-3).as("bloom"), hll_agg(col("k"), 12).as("hll"))
      .select(bloom_estimate(col("bloom")).as("be"), hll_estimate(col("hll")).as("he"))
      .head()
    assert(rolled.getLong(0) == direct.getLong(0), "bloom estimate after rollup")
    assert(rolled.getLong(1) == direct.getLong(1), "hll estimate after rollup")
  }
}
