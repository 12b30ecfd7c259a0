package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/**
 * Async-drop semantics (`conn_handler.c:238-326`): file deletion runs
 * off the command path; `create` of a name whose files are still
 * being deleted answers "Delete in progress".
 */
class PendingDeleteSpec extends AnyFunSuite with SharedSpark {

  test("create during an in-flight drop answers Delete in progress") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("pend").toString)
    assert(cat.create("victim") == "Done")
    val gate = new CountDownLatch(1)
    cat.deleteBarrier = Some(gate)
    assert(cat.drop("victim") == "Done")
    // deletion is parked on the latch: the name is free in the
    // registry but its files are still owned by the reaper
    assert(cat.create("victim") == "Delete in progress")
    assert(cat.drop("victim") == "Filter does not exist")
    gate.countDown()
    cat.deleteBarrier = None
    cat.awaitDeletes()
    assert(cat.create("victim") == "Done")
  }

  test("drop deletes files once the reaper runs") {
    val root = Files.createTempDirectory("pend2")
    val cat = new SketchCatalog(spark, root.toString)
    cat.create("gone")
    val dir = root.resolve("bloomd.gone")
    assert(Files.exists(dir))
    cat.drop("gone")
    cat.awaitDeletes()
    assert(!Files.exists(dir))
  }

  test("a flush racing a drop never resurrects the dropped filter's files") {
    // race hammer: flush(null) snapshots entries, then persists each
    // under its write lock — a drop landing between the snapshot and
    // the persist must not let stale files reappear (the droppedFlag
    // guard); a resurrected sketch.bin would make the create below
    // fault the old keys back in
    val cat = new SketchCatalog(spark,
      java.nio.file.Files.createTempDirectory("resur").toString)
    (0 until 30).foreach { i =>
      val name = s"race$i"
      assert(cat.create(name) == "Done")
      assert(cat.setKeyLocal(name, s"old$i") == Right(true)) // dirty
      val flusher = new Thread(() => cat.flush())
      flusher.start()
      cat.drop(name)
      flusher.join(30000)
      assert(!flusher.isAlive)
      cat.awaitDeletes()
      assert(cat.create(name) == "Done", s"iter $i")
      // a fresh filter: the dropped generation's key must be gone
      assert(cat.checkKeyLocal(name, s"old$i") == Right(false),
        s"iter $i: dropped data resurrected")
      cat.drop(name)
      cat.awaitDeletes()
    }
  }
}
