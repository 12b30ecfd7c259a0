package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Snapshot-commit protocol: optimistic version claiming + manifest
  * publishing must not lose snapshots under collisions. */
class SketchTableIOSpec extends AnyFunSuite with SharedSpark {

  test("commit claims the next free version when a data dir is squatted") {
    import spark.implicits._
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio").toString)
    val v1 = io.commit(Seq((1, "a")).toDF("id", "s"))
    assert(v1 == 1L)
    // simulate a racing committer that claimed v2's data dir but
    // hasn't (or never will have) published its manifest
    Files.createDirectories(java.nio.file.Paths.get(io.root, "data", "v2"))
    val v3 = io.commit(Seq((2, "b")).toDF("id", "s"))
    assert(v3 == 3L)
    assert(io.versions == Seq(1L, 3L))
    assert(io.read(1).count() == 1)
    assert(io.read(3).as[(Int, String)].collect().toSet == Set((2, "b")))
  }

  test("manifests survive paths that would break naive parsing") {
    import spark.implicits._
    // a root containing JSON-hostile characters: ',' and ']'
    val weird = Files.createTempDirectory("tio,w]eird").toString
    val io = new SketchTableIO(spark, weird)
    val v = io.commit(Seq((7, "x")).toDF("id", "s"), Map("docs" -> 1L))
    assert(io.read(v).count() == 1)
    val m = io.manifest(v)
    assert(m.contains("\"docs\":1"))
  }

  test("mergeCommit: upsert replaces, delete removes, insert appends; upsert beats delete; old version intact") {
    import spark.implicits._
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio4").toString)
    io.commit(Seq((1, "one"), (2, "two"), (3, "three"), (4, "four")).toDF("id", "s"))
    val changes = Seq(
      (2, "TWO", "upsert"),      // update
      (3, "", "delete"),         // delete
      (5, "five", "upsert"),     // insert
      (4, "", "delete"),         // delete AND upsert same key:
      (4, "FOUR", "upsert")      //   upsert wins (delete removes the PRIOR row)
    ).toDF("id", "s", "op")
    val v = io.mergeCommit(changes, "id")
    assert(v == 2L)
    assert(io.read(v).as[(Int, String)].collect().toSet ==
      Set((1, "one"), (2, "TWO"), (4, "FOUR"), (5, "five")))
    // time travel: the pre-merge snapshot is untouched
    assert(io.read(1).as[(Int, String)].collect().toSet ==
      Set((1, "one"), (2, "two"), (3, "three"), (4, "four")))
    // malformed batches fail fast instead of corrupting silently
    intercept[IllegalArgumentException] { // unknown op would silently delete
      io.mergeCommit(Seq((1, "x", "update")).toDF("id", "s", "op"), "id")
    }
    intercept[IllegalArgumentException] { // two upserts, one key, no order
      io.mergeCommit(Seq((1, "x", "upsert"), (1, "y", "upsert"))
        .toDF("id", "s", "op"), "id")
    }
    intercept[IllegalArgumentException] { // NULL op would also silently delete
      io.mergeCommit(Seq((1, "x", null.asInstanceOf[String]))
        .toDF("id", "s", "op"), "id")
    }
    // neither rejected batch burned a version or changed the table
    assert(io.versions == Seq(1L, 2L))
    assert(io.read(2).as[(Int, String)].collect().toSet ==
      Set((1, "one"), (2, "TWO"), (4, "FOUR"), (5, "five")))
  }

  test("optimizeCommit: layout rewrite preserves rows exactly, bumps the version, leaves the old copy readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio6").toString)
    val rows = (1 to 100).map(i => (i, s"s$i"))
    io.commit(rows.toDF("id", "s").repartition(7))
    val v = io.optimizeCommit(df =>
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    assert(v == 2L)
    assert(io.read(2).as[(Int, String)].collect().toSet == rows.toSet)
    assert(io.read(1).as[(Int, String)].collect().toSet == rows.toSet)
    // the rewrite actually changed the physical layout (file count)
    def nFiles(ver: Long) = io.read(ver).inputFiles.length
    assert(nFiles(2) == 4 && nFiles(1) == 7)
  }

  test("mergeCommit agrees with a sequential map model over seeded-random change batches") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio8").toString)
    var model = (1 to 30).map(i => i -> s"v$i").toMap
    io.commit(model.toSeq.toDF("id", "s"))
    for (b <- 1 to 6) {
      val keys = rnd.shuffle((1 to 40).toList).take(10)
      val (dels, ups) = keys.splitAt(rnd.nextInt(keys.length + 1))
      val batch = dels.map(k => (k, "", "delete")) ++
        ups.map(k => (k, s"u$b-$k", "upsert"))
      io.mergeCommit(batch.toDF("id", "s", "op"), "id")
      model = model -- dels ++ ups.map(k => k -> s"u$b-$k")
      assert(io.read().as[(Int, String)].collect().toMap == model,
        s"diverged from the model after batch $b")
    }
  }

  test("mergeCommit replay is state-idempotent: re-applying the same change set burns a version, not the table") {
    import spark.implicits._
    // the crash-replay contract StreamMerge.applyChanges relies on:
    // foreachBatch may re-run a batch after failure, and the merge of
    // an identical change set must be a fixed point of the table state
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio7").toString)
    io.commit(Seq((1, "one"), (2, "two"), (3, "three")).toDF("id", "s"))
    val batch = Seq((2, "TWO", "upsert"), (3, "", "delete"), (4, "four", "upsert"))
      .toDF("id", "s", "op")
    val v2 = io.mergeCommit(batch, "id")
    val after = io.read(v2).as[(Int, String)].collect().toSet
    val v3 = io.mergeCommit(batch, "id") // the replay
    assert(v3 == v2 + 1)
    assert(io.read(v3).as[(Int, String)].collect().toSet == after)
    assert(after == Set((1, "one"), (2, "TWO"), (4, "four")))
  }

  test("expireSnapshots: old versions unreadable, kept ones intact, aged orphans swept, young ones spared") {
    import spark.implicits._
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio5").toString)
    io.commit(Seq((1, "a")).toDF("id", "s"))
    io.commit(Seq((2, "b")).toDF("id", "s"))
    io.commit(Seq((3, "c")).toDF("id", "s"))
    // a failed commit's leftover (claimed data dir, no manifest): one
    // aged past the threshold, one fresh (a possibly in-flight commit)
    val aged = java.nio.file.Paths.get(io.root, "data", "v9")
    val young = java.nio.file.Paths.get(io.root, "data", ".staging-live")
    Files.createDirectories(aged)
    Files.createDirectories(young)
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    assert(io.expireSnapshots(keepLast = 2, orphanAgeMs = 3600000L) == Seq(1L))
    assert(io.versions == Seq(2L, 3L))
    assert(io.read(2).count() == 1 && io.read(3).count() == 1)
    intercept[IllegalArgumentException](io.read(1))
    assert(!Files.exists(java.nio.file.Paths.get(io.root, "data", "v1")))
    assert(!Files.exists(aged), "aged orphan dir should be swept")
    assert(Files.exists(young), "young unpublished dir may be a live commit")
  }

  test("sequential commits read back their own snapshots (time travel)") {
    import spark.implicits._
    val io = new SketchTableIO(spark, Files.createTempDirectory("tio3").toString)
    io.commit(Seq((1, "one")).toDF("id", "s"))
    io.commit(Seq((1, "one"), (2, "two")).toDF("id", "s"))
    assert(io.read(1).count() == 1)
    assert(io.read(2).count() == 2)
    assert(io.read().count() == 2) // latest
  }
}
