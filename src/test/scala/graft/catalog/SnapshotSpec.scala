package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot isolation + time travel of the Iceberg-layout seam. */
class SnapshotSpec extends AnyFunSuite with SharedSpark {

  test("commits are immutable snapshots; time travel reads exactly the committed files") {
    import spark.implicits._
    val io = new SketchTableIO(spark,
      java.nio.file.Files.createTempDirectory("snapspec").toString)
    assert(io.versions.isEmpty)
    val v1 = io.commit(Seq((1, "a"), (2, "b")).toDF("k", "s"), Map("rows" -> 2L))
    val v2 = io.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"))
    assert((v1, v2) == (1L, 2L) && io.versions == Seq(1L, 2L) && io.currentVersion == 2L)
    assert(io.read(1).count() == 2, "old snapshot unchanged after new commit")
    assert(io.read().count() == 3, "default read = latest")
    assert(io.manifest(1).contains("\"rows\":2") && io.manifest(1).contains("\"metrics\":{\"rows\":2}"))
    // an unpublished manifest must make the snapshot invisible
    intercept[IllegalArgumentException](io.read(9))
  }
}
