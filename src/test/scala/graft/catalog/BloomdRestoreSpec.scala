package graft.catalog

import graft.sketch.ScalableBloom
import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Restore from the reference C daemon's on-disk directory layout
 * (`bloomd.<name>/{config.ini, data.NNN.mmap}`, filter.c:435-536):
 * membership, layer order, and the capacity ladder must survive.
 */
class BloomdRestoreSpec extends AnyFunSuite with SharedSpark {

  private def writeLayout(src: ScalableBloom, name: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory("restore").resolve(s"bloomd.$name")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("config.ini"),
      s"""[bloomd]
         |initial_capacity = ${src.initialCapacity}
         |default_probability = ${src.fpProbability}
         |scale_size = ${src.scaleSize}
         |probability_reduction = ${src.probReduction}
         |in_memory = 0
         |size = ${src.size}
         |capacity = ${src.totalCapacity}
         |bytes = ${src.totalByteSize}
         |""".stripMargin)
    src.layers.zipWithIndex.foreach { case ((_, f), i) =>
      Files.write(dir.resolve(f"data.$i%03d.mmap"), f.serialize())
    }
    dir
  }

  test("multi-layer SBF round-trips through the reference directory layout") {
    val src = ScalableBloom.create(100L, 1e-4, 4, 0.9)
    val keys = (0 until 600).map(i => s"key$i")
    keys.foreach(k => src.add(k.getBytes("UTF-8")))
    assert(src.numLayers >= 2, "test needs rung growth")
    val dir = writeLayout(src, "roundtrip")

    val (ini, restored) = SketchCatalog.restoreFromBloomd(dir)
    assert(ini.initialCapacity == 100L && ini.scaleSize == 4)
    assert(ini.probabilityReduction == 0.9)
    assert(restored.numLayers == src.numLayers)
    assert(restored.size == src.size)
    // zero false negatives after restore
    assert(keys.forall(k => restored.contains(k.getBytes("UTF-8"))))
    // byte-identical re-serialization of each restored layer (checked
    // BEFORE mutating `restored` below)
    restored.layers.map(_._2.serialize()).zip(src.layers.map(_._2.serialize()))
      .foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    // the restored ladder keeps growing at the right rung: adds resume
    val before = restored.numLayers
    var i = 0
    while (restored.numLayers == before && i < 5000) {
      restored.add(s"extra$i".getBytes("UTF-8")); i += 1
    }
    assert(restored.numLayers == before + 1)
  }

  test("alphasort order defines the rung ladder (oldest file = rung 0)") {
    val src = ScalableBloom.create(100L, 1e-4, 4, 0.9)
    (0 until 550).foreach(i => src.add(s"k$i".getBytes("UTF-8")))
    val dir = writeLayout(src, "ladder")
    val (_, restored) = SketchCatalog.restoreFromBloomd(dir)
    restored.layers.zipWithIndex.foreach { case ((rung, f), i) =>
      assert(rung == i)
      // layer i capacity = init * scale^i, and its k matches the rung params
      assert(f.kNum == src.layers(i)._2.kNum)
    }
  }

  test("ini parser handles comments, spacing, and section headers") {
    val kv = SketchCatalog.parseBloomdIni(
      """# header comment
        |[bloomd]
        |initial_capacity=100000
        |default_probability =  0.000100
        |; another comment
        |scale_size = 4
        |""".stripMargin)
    assert(kv("initial_capacity") == "100000")
    assert(kv("default_probability") == "0.000100")
    assert(kv("scale_size") == "4")
  }

  test("importBloomd registers the restored filter in the catalog") {
    import spark.implicits._
    val src = ScalableBloom.create(100L, 1e-4, 4, 0.9)
    (0 until 300).foreach(i => src.add(s"mig$i".getBytes("UTF-8")))
    val dir = writeLayout(src, "imported")
    val cat = new SketchCatalog(spark, Files.createTempDirectory("importcat").toString)
    assert(cat.importBloomd(dir) == "Done")
    assert(cat.importBloomd(dir) == "Exists")
    val chk = cat.checkKeys("imported", Seq("mig0", "mig299", "absent").toDF("k"))
      .toOption.get.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(chk("mig0") && chk("mig299") && !chk("absent"))
  }

  test("exportBloomd writes the C daemon's layout: restore round-trips, import-export is byte-stable") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("expcat").toString)
    assert(cat.create("expo", 20000, 0.001) == "Done")
    val keys = (0 until 500).map(i => s"ek$i")
    keys.foreach(k => assert(cat.setKeyLocal("expo", k) == Right(true)))
    val dest = Files.createTempDirectory("expdest")
    val dir = cat.exportBloomd("expo", dest).toOption.get
    assert(dir.getFileName.toString == "bloomd.expo")
    // the exported directory restores through the C-layout reader with
    // full membership and matching ini fields
    val (ini, restored) = SketchCatalog.restoreFromBloomd(dir)
    assert(ini.initialCapacity == 20000L && ini.defaultProbability == 0.001)
    assert(ini.size == 500L)
    assert(keys.forall(k => restored.contains(k.getBytes("UTF-8"))))
    assert(!restored.contains("absent".getBytes("UTF-8")))
    assert(cat.exportBloomd("nope", dest) == Left("Filter does not exist"))

    // import a reference-layout dir, re-export it: layer files must be
    // byte-identical (the bitmap layout is the daemon's own)
    val src = ScalableBloom.create(100L, 1e-4, 4, 0.9)
    (0 until 600).foreach(i => src.add(s"rt$i".getBytes("UTF-8")))
    val refDir = writeLayout(src, "rex")
    assert(cat.importBloomd(refDir) == "Done")
    val dest2 = Files.createTempDirectory("expdest2")
    val out = cat.exportBloomd("rex", dest2).toOption.get
    src.layers.indices.foreach { i =>
      val a = Files.readAllBytes(refDir.resolve(f"data.$i%03d.mmap"))
      val b = Files.readAllBytes(out.resolve(f"data.$i%03d.mmap"))
      assert(java.util.Arrays.equals(a, b), s"layer $i differs")
    }
    val kv = SketchCatalog.parseBloomdIni(Files.readString(out.resolve("config.ini")))
    assert(kv("initial_capacity") == "100" && kv("scale_size") == "4")
    assert(kv("size") == src.size.toString)
  }
}
