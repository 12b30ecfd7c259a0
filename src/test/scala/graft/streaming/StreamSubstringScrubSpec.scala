package graft.streaming

import graft.pipeline.{Dedup, TokenTable}
import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The streaming corpus scrub must equal the batch cut core on the
 * same input (shared `cutFlagged`), cut every planted corpus window,
 * and keep corpus-clean docs — across multiple micro-batches.
 */
class StreamSubstringScrubSpec extends AnyFunSuite with SharedSpark {

  test("stream scrub equals the batch core; plants cut; clean docs kept") {
    val tmp = java.nio.file.Files.createTempDirectory("sssSpec")
    val in = tmp.resolve("in").toString
    val corpus = TokenTable.load(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("tokens"))
    val fresh = corpus.select((col("doc_id") + 100000L).as("doc_id"),
      when(col("doc_id") % 4 === 0,
        expr("concat(slice(tokens, 1, 10), reverse(tokens))"))
        .otherwise(reverse(col("tokens"))).as("tokens"))
    fresh.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(in)

    val streamed = StreamSubstringScrub.scrubStream(
      spark, in, corpus,
      tmp.resolve("cp").toString, tmp.resolve("out").toString, L = 8)
      .orderBy("doc_id").collect().map(_.toSeq)

    // batch replay of the same contract: fresh windows that exist in
    // the corpus key set are flagged, same cut core
    val base = Dedup.substringBase(fresh)
    val corpusKeys = Dedup.substringWindows(Dedup.substringBase(corpus), 8)
      .select("wkey").distinct()
    val flagged = Dedup.substringWindows(base, 8)
      .join(corpusKeys, Seq("wkey"), "left_semi").select("doc_id", "pos")
    val batch = Dedup.cutFlagged(base, flagged, 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)

    // plants: every %4 doc carries a 10-token corpus prefix -> its 3
    // fully-inside windows are flagged and at least [0, 10) is cut
    val byId = streamed.map(r => r.head.asInstanceOf[Long] -> r).toMap
    val planted = byId.keys.filter(id => (id - 100000L) % 4 == 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val r = byId(id)
      assert(r(2).asInstanceOf[Int] >= 3 && r(3).asInstanceOf[Int] >= 10,
        s"plant not cut for $id: $r")
    }
    // falsifiable keep side: some reversed doc survives untouched
    assert(streamed.exists(r => r(3).asInstanceOf[Int] == 0 &&
      r(4).asInstanceOf[String].nonEmpty))
    // the drain actually ran as MULTIPLE micro-batches (4 input files,
    // maxFilesPerTrigger = 2)
    val batches = new java.io.File(tmp.resolve("out").toString).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id=") &&
        !f.getName.endsWith("=-1")) // exclude the schema-seed dir
    assert(batches >= 2, s"expected >= 2 micro-batches, saw $batches")
  }
}
