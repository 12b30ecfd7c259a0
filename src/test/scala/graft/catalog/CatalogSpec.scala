package graft.catalog

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Lifecycle parity with the reference wire protocol
 * (`integ/test_integ.py:74-278`, `tests/bloomd/test_filtmgr.c`).
 */
class CatalogSpec extends AnyFunSuite with SharedSpark {

  private def freshCatalog(): SketchCatalog =
    new SketchCatalog(spark, Files.createTempDirectory("graftcat").toString)

  test("create validation mirrors sane_* bounds") {
    val c = freshCatalog()
    assert(c.create("foo") == "Done")
    assert(c.create("foo") == "Exists")
    assert(c.create("bad name") == "Client Error: Bad filter name")
    assert(c.create("x" * 201) == "Client Error: Bad filter name")
    assert(c.create("small", capacity = 10000) == "Client Error: Bad arguments") // must be > 10000
    assert(c.create("okcap", capacity = 10001) == "Done")
    assert(c.create("badp1", prob = 0.1) == "Client Error: Bad arguments")
    assert(c.create("badp2", prob = 0.0) == "Client Error: Bad arguments")
    assert(c.create("okp", prob = 0.09) == "Done")
  }

  test("set/check/info counters follow bloomf_add/contains semantics") {
    import spark.implicits._
    val c = freshCatalog()
    c.create("f1")
    val keys = Seq("a", "b", "c", "a").toDF("k").coalesce(1)
    val res = c.setKeys("f1", keys).toOption.get.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(res("a") && res("b") && res("c")) // all new vs initial state
    val info1 = c.info("f1").toOption.get
    assert(info1.sets == 4)
    assert(info1.set_hits == 3)
    assert(info1.set_misses == 1)
    assert(info1.size == 3)

    val checks = c.checkKeys("f1", Seq("a", "zz").toDF("k")).toOption.get
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(checks("a") && !checks("zz"))
    val info2 = c.info("f1").toOption.get
    assert(info2.checks == 2)
    assert(info2.check_hits == 1)
    assert(info2.check_misses == 1)
    assert(info2.in_memory == 1)
  }

  test("close -> proxied -> fault-in on check; clear only when proxied") {
    import spark.implicits._
    val c = freshCatalog()
    c.create("lc")
    c.setKeys("lc", Seq("k1", "k2").toDF("k"))
    assert(c.clear("lc") == "Filter is not proxied. Close it first.")
    assert(c.close("lc") == "Done")
    val info = c.info("lc").toOption.get
    assert(info.in_memory == 0) // proxied
    assert(info.size == 2) // read from disk
    // fault-in on use
    val chk = c.checkKeys("lc", Seq("k1").toDF("k")).toOption.get.head()
    assert(chk.getBoolean(1))
    assert(c.info("lc").toOption.get.page_ins == 1)
    // now loaded again -> clear refused, close again then clear works
    assert(c.clear("lc") == "Filter is not proxied. Close it first.")
    assert(c.close("lc") == "Done")
    assert(c.clear("lc") == "Done")
    assert(!c.exists("lc"))
  }

  test("info on a closed filter reports the loaded size and storage without faulting it in") {
    import spark.implicits._
    val c = freshCatalog()
    c.create("ci", capacity = 20000)
    // past capacity, so the ladder has grown and storage spans two layers
    c.setKeys("ci", (0 until 30000).map(i => s"ck$i").toDF("k")).toOption.get.count()
    val before = c.info("ci").toOption.get
    assert(c.close("ci") == "Done")
    val after = c.info("ci").toOption.get
    assert(after.in_memory == 0)
    assert(after.size == before.size)
    assert(after.storage == before.storage)
    assert(after.page_ins == before.page_ins)
    val listed = c.list("ci").head
    assert(listed.size == before.size)
    assert(listed.bytes == before.storage)
  }

  test("restore across catalog restart keeps membership and size") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftcat").toString
    val c1 = new SketchCatalog(spark, dir)
    c1.create("persist1")
    c1.setKeys("persist1", (0 until 1000).map(i => s"pk$i").toDF("k"))
    c1.flush()
    // new catalog over the same dir — restores proxied, faults in lazily
    val c2 = new SketchCatalog(spark, dir)
    assert(c2.exists("persist1"))
    val r = c2.checkKeys("persist1", Seq("pk0", "pk999", "nope").toDF("k"))
      .toOption.get.collect().map(x => (x.getString(0), x.getBoolean(1))).toMap
    assert(r("pk0") && r("pk999") && !r("nope"))
    val info = c2.info("persist1").toOption.get
    assert(info.size == 1000)
  }

  test("test_mgr_grow (test_filtmgr.c:693): inserts past capacity grow the ladder, zero false negatives") {
    import spark.implicits._
    val cat = freshCatalog()
    // the reference shrinks initial_capacity to 10000 to force growth;
    // our create floor is cap > 10000, so 10001 forces it the same way
    assert(cat.create("scale1", capacity = 10001) == "Done")
    val n = 60000
    val keys = (0 until n).map(i => s"test_key_$i").toDF("k")
    assert(cat.setKeys("scale1", keys).isRight)
    // growth happened: the persisted sketch is past its first rung
    assert(cat.flush("scale1") == "Done")
    val blob = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cat.dataDir, "bloomd.scale1", "sketch.bin"))
    val sk = graft.sketch.ScalableBloom.deserialize(blob)
    assert(sk.layers.length > 1, s"expected ladder growth, got ${sk.layers.length} layer(s)")
    assert(sk.size == n, s"every distinct key counted once (got ${sk.size})")
    // the hard invariant: no false negatives after growth
    val present = cat.checkKeys("scale1", keys).toOption.get
    assert(present.filter(!org.apache.spark.sql.functions.col("present")).count() == 0)
    val info = cat.info("scale1").toOption.get
    assert(info.size == n)
    assert(cat.drop("scale1") == "Done")
  }

  test("test_mgr_unmap_in_mem (test_filtmgr.c:623): close is a no-op for in_memory, data survives") {
    val cat = freshCatalog()
    assert(cat.create("mem1", inMemory = true) == "Done")
    Seq("hey", "there", "person").foreach(k => assert(cat.setKeyLocal("mem1", k) == Right(true)))
    assert(cat.close("mem1") == "Done") // reference: unmap skips in_memory, still returns 0
    Seq("hey", "there", "person").foreach(k => assert(cat.checkKeyLocal("mem1", k) == Right(true)))
    val info = cat.info("mem1").toOption.get
    assert(info.in_memory == 1 && info.page_outs == 0)
    assert(cat.drop("mem1") == "Done")
  }

  test("lazy results answer from the snapshot taken at call time, not the live sketch") {
    import spark.implicits._
    val c = freshCatalog()
    c.create("snap")
    c.setKeys("snap", Seq("old1", "old2").toDF("k")).toOption.get.collect()
    val check = c.checkKeys("snap", Seq("old1", "new1", "new2").toDF("k")).toOption.get
    val firstSet = c.setKeys("snap", Seq("old1", "mid1").toDF("k")).toOption.get
    // a later set puts mid1 and the new keys into the live sketch
    c.setKeys("snap", Seq("new1", "new2", "mid1").toDF("k")).toOption.get.collect()
    assert(c.checkKeyLocal("snap", "new1") == Right(true))
    def answers(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(answers(check) == Map("old1" -> true, "new1" -> false, "new2" -> false))
    assert(answers(firstSet) == Map("old1" -> false, "mid1" -> true)) // added vs its own before-state
  }

  test("probe plans carry a sketch handle, not the serialized blob") {
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.functions._
    val c = freshCatalog()
    Seq("wide1", "wide2").foreach(n => assert(c.create(n, capacity = 1000000) == "Done"))
    val store = spark.sharedState.statusStore
    def retainedPlanChars(): Long = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      store.executionsList().iterator.map(_.physicalPlanDescription.length.toLong).sum
    }
    // range, not a local Seq: the optimizer folds a projection over a
    // local relation into the relation, probe and all
    val ids = spark.range(0, 300, 1, 2)
    val keys = ids.select(concat(lit("k"), col("id")).as("k"))
    val pairs = ids.select(element_at(array(lit("wide1"), lit("wide2"), lit("nope")),
      (col("id") % 3 + 1).cast("int")).as("name"), concat(lit("k"), col("id")).as("key"))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "setKeys" -> (() => c.setKeys("wide1", keys).toOption.get),
      "checkKeys" -> (() => c.checkKeys("wide1", keys).toOption.get),
      "checkKeysMulti" -> (() => c.checkKeysMulti(pairs)))
    calls.foreach { case (call, run) =>
      val before = retainedPlanChars()
      val res = run()
      val plan = res.queryExecution.explainString(FormattedMode)
      assert(plan.length < 16 * 1024, s"$call: formatted plan is ${plan.length} chars")
      assert(plan.contains("sketch#"), s"$call: no sketch handle in the plan:\n$plan")
      res.collect()
      val added = retainedPlanChars() - before
      assert(added < 64 * 1024, s"$call: $added plan-description chars retained")
      res.unpersist()
    }
  }

  test("list with prefix, lexicographic order, drop removes files") {
    import spark.implicits._
    val c = freshCatalog()
    c.create("pfx_b"); c.create("pfx_a"); c.create("other")
    c.setKeys("pfx_a", Seq("x").toDF("k"))
    val all = c.list().map(_.name)
    assert(all.sameElements(Array("other", "pfx_a", "pfx_b")))
    val pfx = c.list("pfx_").map(_.name)
    assert(pfx.sameElements(Array("pfx_a", "pfx_b")))
    assert(c.drop("pfx_a") == "Done")
    assert(c.drop("pfx_a") == "Filter does not exist")
    assert(c.list("pfx_").map(_.name).sameElements(Array("pfx_b")))
    assert(c.info("nonexistent").isLeft)
  }
}
