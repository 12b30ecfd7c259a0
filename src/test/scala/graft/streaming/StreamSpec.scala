package graft.streaming

import graft.pipeline.TokenTable
import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-equals-batch contract for incremental sketch maintenance. */
class StreamSpec extends AnyFunSuite with SharedSpark {

  test("changelog sink is idempotent per batch id (foreachBatch retry cannot duplicate rows)") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("sinkidem").resolve("out").toString
    val b0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    StreamSinks.seed(spark, b0.schema, sink)
    StreamSinks.appendBatch(b0, 0L, sink)
    StreamSinks.appendBatch(b0, 0L, sink) // the retry: same id, rewritten
    StreamSinks.appendBatch(Seq(("c", 3L)).toDF("k", "v"), 1L, sink)
    val rows = StreamSinks.readAppend(spark, sink).collect()
    assert(rows.length == 3, s"retried batch must not duplicate: ${rows.mkString(",")}")
    // update-mode compaction: the same key re-emitted in a later batch wins
    StreamSinks.appendBatch(Seq(("a", 9L)).toDF("k", "v"), 2L, sink)
    val latest = StreamSinks.readLatestByKey(spark, sink, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(latest == Map("a" -> 9L, "b" -> 2L, "c" -> 3L))
  }

  test("compact: read-equivalence for append and latest-by-key views, files merged per batch") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("sinkcmp").resolve("out").toString
    val b0 = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v").repartition(4)
    StreamSinks.seed(spark, b0.schema, sink)
    StreamSinks.appendBatch(b0, 0L, sink, maxFiles = 0) // uncoalesced: many small files
    StreamSinks.appendBatch(Seq(("a", 9L), ("d", 4L)).toDF("k", "v").repartition(4), 1L, sink, maxFiles = 0)
    StreamSinks.appendBatch(Seq(("b", 7L)).toDF("k", "v").repartition(4), 2L, sink, maxFiles = 0)
    def files(dir: String): Seq[java.nio.file.Path] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach(p =>
        if (p.toString.endsWith(".parquet")) out += p)
      out.toSeq
    }
    def appendView = StreamSinks.readAppend(spark, sink)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def latestView = StreamSinks.readLatestByKey(spark, sink, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val (appendBefore, latestBefore, filesBefore) = (appendView, latestView, files(sink).size)
    StreamSinks.compact(spark, sink)
    assert(appendView == appendBefore, "append view changed across compaction")
    assert(latestView == latestBefore, "latest-by-key view changed across compaction")
    assert(latestView.toMap == Map("a" -> 9L, "b" -> 7L, "c" -> 3L, "d" -> 4L))
    val filesAfter = files(sink).size
    assert(filesAfter < filesBefore, s"compaction must shrink file count ($filesBefore -> $filesAfter)")
    assert(filesAfter <= 4, s"one chunky file per non-empty batch + seed, got $filesAfter")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sink + ".old")))
    // a later batch appends cleanly into the compacted layout
    StreamSinks.appendBatch(Seq(("e", 5L)).toDF("k", "v"), 3L, sink)
    assert(latestView.toMap.apply("e") == 5L)
    // periodic compaction: a second pass (and one with a stale .old
    // tree left by a crashed swap) still works — and recovers data.
    // Simulate the crash-between-renames case: .old holds a batch the
    // recreated live LACKS (plus garbage that must NOT leak into the
    // partition layout) — compaction must merge the lost batch back in
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sink + ".old/junk"))
    Seq(("z", 26L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(sink + ".old/batch_id=99")
    val beforeRepeat = latestView
    StreamSinks.compact(spark, sink)
    assert(latestView.toMap == beforeRepeat.toMap + ("z" -> 26L),
      "compaction must recover the crashed swap's lost batch")
    assert(!new java.io.File(sink + "/junk").exists(), "garbage must not leak into the sink")
    // an all-empty changelog stays readable across compaction
    val empty = java.nio.file.Files.createTempDirectory("sinkcmpe").resolve("out").toString
    StreamSinks.seed(spark, b0.schema, empty)
    StreamSinks.compact(spark, empty)
    assert(StreamSinks.readAppend(spark, empty).count() == 0)
  }

  test("compact is incremental: clean batches untouched (file identity), in-flight skipped, per-batch crash recovered") {
    import spark.implicits._
    import java.nio.file.{Files => JF, Paths}
    val sink = JF.createTempDirectory("sinkinc").resolve("out").toString
    val b0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v").repartition(3)
    StreamSinks.seed(spark, b0.schema, sink)
    StreamSinks.appendBatch(b0, 0L, sink, maxFiles = 0)
    StreamSinks.appendBatch(Seq(("c", 3L)).toDF("k", "v").repartition(3), 1L, sink, maxFiles = 0)
    StreamSinks.compact(spark, sink)
    def partsOf(batch: Long): Seq[(String, java.nio.file.attribute.FileTime)] = {
      val d = Paths.get(s"$sink/batch_id=$batch")
      val s = JF.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
          .map(p => p.toString -> JF.getLastModifiedTime(p)).sortBy(_._1)
      } finally s.close()
    }
    assert(partsOf(0).size == 1 && partsOf(1).size == 1)
    val clean = (partsOf(0), partsOf(1))
    // new dirty batch arrives; a planted _temporary marks it in-flight
    StreamSinks.appendBatch(Seq(("d", 4L), ("e", 5L)).toDF("k", "v").repartition(3), 2L, sink, maxFiles = 0)
    assert(partsOf(2).size > 1)
    JF.createDirectories(Paths.get(s"$sink/batch_id=2/_temporary"))
    StreamSinks.compact(spark, sink)
    assert(partsOf(2).size > 1, "an in-flight batch must be skipped, not half-compacted")
    JF.delete(Paths.get(s"$sink/batch_id=2/_temporary"))
    StreamSinks.compact(spark, sink)
    assert(partsOf(2).size == 1, "once committed, the batch compacts")
    // the already-clean batches were never rewritten: same paths, same mtimes
    assert((partsOf(0), partsOf(1)) == clean,
      "incremental compaction must not touch already-compacted batch dirs")
    val rows = StreamSinks.readAppend(spark, sink)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L)))
    // per-batch crash recovery: a swap that died after move-out leaves
    // the batch only under .oldbatches — the next compact restores it
    JF.createDirectories(Paths.get(sink + ".oldbatches"))
    JF.move(Paths.get(s"$sink/batch_id=2"), Paths.get(sink + ".oldbatches/batch_id=2"))
    StreamSinks.compact(spark, sink)
    assert(JF.exists(Paths.get(s"$sink/batch_id=2")), "crashed swap's batch must be restored")
    assert(!JF.exists(Paths.get(sink + ".oldbatches")))
    val rows2 = StreamSinks.readAppend(spark, sink)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows2 == rows)
  }

  test("dedupWithinWatermark: horizon-bounded state drops near dups, re-admits expired digests") {
    withConf("spark.sql.session.timeZone" -> "UTC") {
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("wmdedup")
      val in = tmp.resolve("in")
      // one row per FILE, one file per trigger, mtimes pinned ascending:
      // arrival order and watermark advancement are fully deterministic
      def hour(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      // State eviction runs at batch COMMIT (after the batch's rows are
      // checked), and the watermark a batch uses is derived from the
      // PREVIOUS batch's max event time — so alpha's digest (expiry
      // <= 10:35) is evicted at the end of the first batch whose
      // watermark passed it (doc 4's: wm = 11:10 - 30m = 10:40), and a
      // re-arrival is admitted from the NEXT batch on.
      val rows = Seq(
        (1L, "alpha text", hour(10, 0)),   // first sight of alpha
        (2L, "alpha text", hour(10, 5)),   // near dup inside the 30m horizon -> dropped
        (3L, "filler doc", hour(11, 10)),  // advances the watermark source
        (4L, "filler two", hour(11, 15)),  // batch wm 10:40 -> alpha evicted at commit
        (5L, "alpha text", hour(11, 30))   // horizon long passed -> re-admitted
      )
      StreamSinks.stageFiles(in, rows.map(r => Seq(r).toDF("doc_id", "text", "ts")))
      val kept = StreamDedup.dedupWithinWatermark(spark, in.toString,
          tmp.resolve("cp").toString, tmp.resolve("out").toString,
          tsCol = "ts", delay = "30 minutes")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 4L, 5L),
        s"expected near-dup 2 dropped and expired alpha 5 re-admitted, got $kept")
    }
  }

  test("foreachBatch incremental OR-merge reproduces one-shot batch sketches exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("streamspec")
    val in = tmp.resolve("in").toString
    TokenTable.load(spark, "/root/testdata/sf0.001")
      .repartition(8).write.mode("overwrite").parquet(in)
    val streamed = SketchStream.runIncremental(spark, in, tmp.resolve("cp").toString)
    val cmp = SketchStream.compareToBatch(spark, in, streamed).collect()
    assert(cmp.length == 20, "one row per source")
    cmp.foreach { r =>
      assert(r.getLong(1) > 1, "must have processed multiple micro-batches")
      assert(r.getBoolean(2), s"row count mismatch for ${r.getString(0)}")
      assert(r.getBoolean(3), s"bloom estimate mismatch for ${r.getString(0)}")
      assert(r.getBoolean(4), s"hll estimate mismatch for ${r.getString(0)}")
    }
  }

  test("streaming Misra-Gries: batch-boundary-invariant guarantee holds against exact truth") {
    val tmp = java.nio.file.Files.createTempDirectory("streamfreq")
    val in = tmp.resolve("in").toString
    TokenTable.load(spark, "/root/testdata/sf0.001")
      .repartition(8).write.mode("overwrite").parquet(in)
    val streamed = SketchStream.runIncrementalFreq(spark, in, tmp.resolve("cp").toString)
    val cmp = SketchStream.compareFreqToBatch(spark, in, streamed).collect()
    assert(cmp.length == 20, "one row per source")
    cmp.foreach { r =>
      assert(r.getBoolean(1), s"expected >1 micro-batch for ${r.getString(0)}")
      assert(r.getBoolean(2), s"weight not conserved for ${r.getString(0)}")
      assert(r.getBoolean(3), s"estimate guarantee violated for ${r.getString(0)}")
      assert(r.getBoolean(4), s"heavy item untracked for ${r.getString(0)}")
      assert(r.getBoolean(5), s"error above n/(k+1) for ${r.getString(0)}")
    }
  }
}
