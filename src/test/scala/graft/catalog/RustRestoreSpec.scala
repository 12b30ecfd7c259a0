package graft.catalog

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Restore from the Rust daemon's on-disk layout
 * (`filter.<name>/{<name>.ini, N.bmp}`, wrappers.rs + config.rs):
 * counting semantics and counters must survive the migration.
 */
class RustRestoreSpec extends AnyFunSuite with SharedSpark {

  test("counting filter round-trips through the Rust directory layout") {
    // build multiplicities 3/2/1 through the real server
    val srcRoot = Files.createTempDirectory("rustsrc")
    val src = new RustBloomServer(srcRoot.toString)
    assert(src.interpret("create mig") == "Done")
    Seq("k1", "k1", "k1", "k2", "k2", "k3").foreach(k => src.interpret(s"set mig $k"))
    assert(src.interpret("check mig k1") == "3")
    src.interpret("flush mig")

    // write the RUST layout by hand from the persisted blob's layers
    val lbf = graft.sketch.LayeredBloom.deserialize(
      Files.readAllBytes(srcRoot.resolve("filter.mig").resolve("data.lbf")))
    val dir = Files.createTempDirectory("rustlayout").resolve("filter.mig")
    Files.createDirectories(dir)
    val names = lbf.layers.indices.map(i => s"/orig/host/path/$i.bmp") // absolute, foreign
    lbf.layers.zipWithIndex.foreach { case (f, i) =>
      Files.write(dir.resolve(s"$i.bmp"), f.serialize())
    }
    Files.writeString(dir.resolve("mig.ini"),
      s"""[config]
         |filter_name = mig
         |capacity = ${lbf.capacity}
         |probability = ${lbf.fpProbability}
         |k_num = ${lbf.layers.head.kNum}
         |in_memory = false
         |bytes = ${lbf.layers.map(_.data.length.toLong).sum}
         |size = ${lbf.size}
         |bitmap_filenames = ${names.mkString(",")}
         |filter_sizes = ${lbf.layers.map(_.count).mkString(",")}
         |[counters]
         |check_hits = 4
         |check_misses = 1
         |set_hits = 3
         |set_misses = 3
         |page_ins = 2
         |page_outs = 1
         |""".stripMargin)

    val dst = new RustBloomServer(Files.createTempDirectory("rustdst").toString)
    assert(dst.importRustDir(dir) == "Done")
    assert(dst.importRustDir(dir) == "Exists")
    // multiplicities preserved (check increments counters from the ini base)
    assert(dst.interpret("check mig k1") == "3")
    assert(dst.interpret("check mig k2") == "2")
    assert(dst.interpret("check mig k3") == "1")
    assert(dst.interpret("check mig nope") == "0")
    val info = dst.interpret("info mig")
    // 4 imported check_hits + the 3 hits above; 1 imported miss + 1
    assert(info.contains("check_hits 7"))
    assert(info.contains("check_misses 2"))
    assert(info.contains("set_hits 3"))
    assert(info.contains("page_ins 2"))
    assert(info.contains(s"size ${lbf.size}"))
  }

  test("exportRustDir writes the Rust daemon's layout; a second server imports it intact") {
    val srcRoot = Files.createTempDirectory("rustexp")
    val src = new RustBloomServer(srcRoot.toString)
    assert(src.interpret("create expo") == "Done")
    Seq("a", "a", "b").foreach(k => src.interpret(s"set expo $k"))
    assert(src.interpret("check expo a") == "2") // 1 check_hit on src
    val dest = Files.createTempDirectory("rustexpdst")
    assert(src.exportRustDir("expo", dest) == "Done")
    assert(src.exportRustDir("ghost", dest) == "Filter does not exist")
    val d = dest.resolve("filter.expo")
    assert(Files.exists(d.resolve("expo.ini")) && Files.exists(d.resolve("0.bmp")))

    val dst = new RustBloomServer(Files.createTempDirectory("rustexpdst2").toString)
    assert(dst.importRustDir(d) == "Done")
    assert(dst.interpret("check expo a") == "2")
    assert(dst.interpret("check expo b") == "1")
    assert(dst.interpret("check expo zz") == "0")
    // counters travelled: src had 1 check_hit + set hit/miss history
    val info = dst.interpret("info expo")
    assert(info.contains("set_hits 1"))   // "a" second set hit
    assert(info.contains("set_misses 2")) // first "a", first "b"
    assert(info.contains("check_hits 3")) // 1 exported + a,b above
  }

  test("listCold clears hot flags and defines sweep windows") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("coldlist").toString)
    cat.create("a"); cat.create("b")
    assert(cat.listCold() == Seq.empty) // both creation-hot
    cat.checkKeyLocal("a", "x")
    assert(cat.listCold() == Seq("b")) // only b untouched this window
    assert(cat.listCold() == Seq("a", "b")) // nothing touched since
  }
}
