package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Background maintenance parity (`csrc/bloomd/background.c:100-180`):
 * the flush sweep persists dirty filters; the cold sweep pages out
 * filters untouched since the previous sweep (hot-flag protocol).
 * Driven by manual ticks for determinism; the interval threads call
 * the same sweep.
 */
class BackgroundSweepSpec extends AnyFunSuite with SharedSpark {

  test("flush sweep persists dirty filters and skips clean ones") {
    val root = Files.createTempDirectory("bg1")
    val cat = new SketchCatalog(spark, root.toString)
    cat.create("a"); cat.create("b")
    cat.setKeyLocal("a", "k1") // a dirty, b clean
    val bin = root.resolve("bloomd.a").resolve("sketch.bin")
    val sizeBefore = Files.readAllBytes(bin).length
    val (flushed1, _) = cat.backgroundSweep(flush = true, cold = false)
    assert(flushed1 == 1)
    // the persisted blob now contains k1: a fresh catalog faults it in
    val cat2 = new SketchCatalog(spark, root.toString)
    assert(cat2.checkKeyLocal("a", "k1").toOption.get)
    // second sweep: nothing dirty anymore
    val (flushed2, _) = cat.backgroundSweep(flush = true, cold = false)
    assert(flushed2 == 0)
    assert(sizeBefore > 0)
  }

  test("cold sweep pages out untouched filters, keeps touched ones") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("bg2").toString)
    cat.create("warm"); cat.create("idle")
    // sweep 1: both are creation-hot -> nothing paged, flags cleared
    val (_, out1) = cat.backgroundSweep(flush = false, cold = true)
    assert(out1 == 0)
    // touch only `warm` inside this sweep window
    cat.checkKeyLocal("warm", "x")
    // sweep 2: `idle` was untouched since sweep 1 -> paged out
    val (_, out2) = cat.backgroundSweep(flush = false, cold = true)
    assert(out2 == 1)
    assert(cat.info("warm").toOption.get.in_memory == 1)
    assert(cat.info("idle").toOption.get.in_memory == 0)
    // paged-out data survives: faults back in on use
    assert(cat.setKeyLocal("idle", "y").toOption.get)
    assert(cat.checkKeyLocal("idle", "y").toOption.get)
    assert(cat.info("idle").toOption.get.page_ins >= 1)
  }

  test("interval threads run the sweeps") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("bg3").toString)
    cat.create("t")
    cat.setKeyLocal("t", "k")
    cat.startBackground(flushIntervalMs = 50, coldIntervalMs = 50)
    try {
      val deadline = System.nanoTime() + 5e9.toLong
      var proxied = false
      while (!proxied && System.nanoTime() < deadline) {
        Thread.sleep(50)
        proxied = cat.info("t").toOption.get.in_memory == 0
      }
      assert(proxied, "cold thread should eventually page out an untouched filter")
    } finally cat.stopBackground()
    // data survived the page-out
    assert(cat.checkKeyLocal("t", "k").toOption.get)
  }
}
