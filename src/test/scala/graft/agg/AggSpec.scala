package graft.agg

import graft.sketch.{BloomFilter, BloomParams}
import graft.agg.GraftFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class AggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("distributed bloom_agg bit array EXACTLY equals sequential reference filter") {
    import spark.implicits._
    val n = 20000
    val keys = (0 until n).map(i => s"key$i")
    // distributed: 8 partitions, partial agg + OR merge
    val df = keys.toDF("k").repartition(8)
    val blob = df.agg(bloom_agg(col("k"), 20000L, 1e-3).as("s"))
      .head().getAs[Array[Byte]]("s")
    // sequential: same params, same keys, one loop — the reference path
    val seqF = BloomFilter.create(BloomParams.forCapacity(20000L, 1e-3))
    keys.foreach(k => seqF.addKey(k.getBytes(UTF_8)))
    val seqBytes = seqF.serialize()
    assert(blob.length == seqBytes.length)
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(blob, 512, blob.length),
      java.util.Arrays.copyOfRange(seqBytes, 512, seqBytes.length)),
      "distributed OR-merge must reproduce sequential bits exactly")
    // count: sequential skips fp-dups seen against the whole filter, so
    // distributed (per-partition new-adds summed) is >= sequential, <= n
    val distCount = BloomFilter.deserialize(blob).count
    assert(distCount >= seqF.count && distCount <= n, s"dist=$distCount seq=${seqF.count}")
  }

  test("distributed kmv_agg EXACTLY equals sequential bottom-k; merge-agg rollup identical") {
    import graft.sketch.Kmv
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"key${i % 3000}") // dups on purpose
    val df = keys.toDF("k").repartition(8)
    val blob = df.agg(kmv_agg(col("k"), 64).as("s")).head().getAs[Array[Byte]]("s")
    val seq = Kmv.create(64)
    keys.foreach { k => val b = k.getBytes(UTF_8); seq.add(b, b.length) }
    assert(Kmv.deserialize(blob).hashes.toSeq == seq.hashes.toSeq,
      "distributed bottom-k must be order-insensitive and exact")
    // rollup: per-group sketches merged by kmv_merge_agg == global sketch
    val rolled = keys.zipWithIndex.map { case (k, i) => (k, i % 7) }.toDF("k", "g")
      .repartition(8)
      .groupBy("g").agg(kmv_agg(col("k"), 64).as("s"))
      .agg(kmv_merge_agg(col("s")).as("s"))
      .head().getAs[Array[Byte]]("s")
    assert(Kmv.deserialize(rolled).hashes.toSeq == seq.hashes.toSeq)
    assert(seq.estimate > 2000 && seq.estimate < 4000, s"est=${seq.estimate}")
  }

  test("bloom_contains probe: zero false negatives, fp within bound via SQL surface") {
    GraftFunctions.register(spark)
    import spark.implicits._
    (0 until 5000).map(i => s"in$i").toDF("k").createOrReplaceTempView("ins")
    val fp = spark.sql(
      """WITH sk AS (SELECT graft_bloom_agg(k, 10000, 0.01) AS s FROM ins)
        |SELECT sum(CASE WHEN graft_bloom_contains(s, concat('out', id)) THEN 1 ELSE 0 END) AS fp,
        |       count(*) AS n
        |FROM range(5000), sk""".stripMargin).head()
    assert(fp.getLong(0) <= 5000 * 0.01 * 3, s"fp=${fp.getLong(0)}")
    val fn = spark.sql(
      """WITH sk AS (SELECT graft_bloom_agg(k, 10000, 0.01) AS s FROM ins)
        |SELECT sum(CASE WHEN graft_bloom_contains(s, k) THEN 0 ELSE 1 END) AS fn
        |FROM ins, sk""".stripMargin).head().getLong(0)
    assert(fn == 0)
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("sketch_ref probe: generated and interpreted code give the same answers, null key answers null") {
    val sbf = graft.sketch.ScalableBloom.create(20000L, 1e-4).materialize()
    (0 until 5000).foreach(i => sbf.add(s"in$i".getBytes(UTF_8)))
    val blob = sbf.serialize()
    val ref = sketch_ref(spark.sparkContext.broadcast(blob), blob.length)
    // range, not a local Seq: a projection over a local relation is
    // evaluated on the driver by the optimizer and skips both paths
    def probe(): (Map[Long, java.lang.Boolean], org.apache.spark.sql.execution.SparkPlan) = {
      val df = spark.range(0, 10000, 1, 4)
        .select(col("id"), when(col("id") % 97 === 0, lit(null).cast("string"))
          .when(col("id") < 5000, concat(lit("in"), col("id")))
          .otherwise(concat(lit("out"), col("id"))).as("k"))
        .select(col("id"), sbf_contains(ref, col("k")).as("p"))
      (df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else java.lang.Boolean.valueOf(r.getBoolean(1)))).toMap,
        df.queryExecution.executedPlan)
    }
    val (generated, genPlan) = withConf(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(probe())
    assert(genPlan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      s"probe did not run in whole-stage codegen:\n$genPlan")
    val (interpreted, _) = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(probe())
    val expected: Map[Long, java.lang.Boolean] = (0L until 10000L).map { i =>
      i -> (if (i % 97 == 0) null
            else java.lang.Boolean.valueOf(sbf.contains(s"${if (i < 5000) "in" else "out"}$i".getBytes(UTF_8))))
    }.toMap
    assert(generated == expected)
    assert(interpreted == expected)
    assert(expected.count { case (i, p) => i < 5000 && p != null && p } == 5000 - 52, "every inserted key present")
  }

  test("sbf_agg grows under distributed aggregation and keeps membership") {
    import spark.implicits._
    val df = (0 until 30000).map(i => s"g$i").toDF("k").repartition(6)
    val row = df.agg(sbf_agg(col("k"), 1000L, 1e-4, 4, 0.9).as("s"))
      .select(sbf_size(col("s")).as("size"), sbf_num_layers(col("s")).as("layers"),
        sbf_total_capacity(col("s")).as("cap"), col("s"))
      .head()
    assert(row.getAs[Long]("size") >= 29900 && row.getAs[Long]("size") <= 30000)
    assert(row.getAs[Int]("layers") >= 3)
    val sk = graft.sketch.ScalableBloom.deserialize(row.getAs[Array[Byte]]("s"))
    assert((0 until 30000).forall(i => sk.contains(s"g$i".getBytes(UTF_8))), "no false negatives")
  }

  test("lbf_agg multiplicity bounds under distributed merge") {
    import spark.implicits._
    // key "m3" appears 3x, "m1" once etc.
    val rows = Seq.fill(3)("m3") ++ Seq.fill(2)("m2") ++ Seq("m1")
    val df = rows.toDF("k").repartition(2)
    val blob = df.agg(lbf_agg(col("k"), 20000L, 1e-4).as("s")).head().getAs[Array[Byte]](0)
    val lbf = graft.sketch.LayeredBloom.deserialize(blob)
    def c(k: String) = lbf.count(k.getBytes(UTF_8))
    assert(c("m3") >= 1 && c("m3") <= 3)
    assert(c("m2") >= 1 && c("m2") <= 2)
    assert(c("m1") == 1)
    assert(c("absent") == 0)
  }

  test("distributed SBF merge: measured fp matches the layer-concat model (two-sided)") {
    import spark.implicits._
    // 200k keys into cap 100k at p=1e-2 across 8 partitions: the
    // concat merge packs 8 quarter-filled rung-0 partials into ~2 full
    // layers; the union-check fp model is layers * p0, p0 = (1-r)P
    val df = (0 until 200000).map(i => s"fp$i").toDF("k").repartition(8)
    val blob = df.agg(sbf_agg(col("k"), 100000L, 1e-2, 4, 0.9).as("s"))
      .head().getAs[Array[Byte]](0)
    val sk = graft.sketch.ScalableBloom.deserialize(blob)
    val p0 = 0.1 * 1e-2
    val model = sk.numLayers * p0
    val probes = 100000
    var hits = 0
    (0 until probes).foreach { i =>
      if (sk.contains(s"absent$i".getBytes(UTF_8))) hits += 1
    }
    val measured = hits.toDouble / probes
    // two-sided: the model must PREDICT the slack, not just bound it
    assert(measured <= model * 1.5, f"fp $measured%.5f above model $model%.5f * 1.5")
    assert(measured >= model * 0.3, f"fp $measured%.5f far below model $model%.5f — model wrong")
    // and zero false negatives regardless of layer shape
    assert((0 until 200000 by 997).forall(i => sk.contains(s"fp$i".getBytes(UTF_8))))
  }

  test("lbf_agg maxCount keeps a 10^3-multiplicity input bounded in the structure's regime") {
    import spark.implicits._
    // 1000 repeats of one key + a unique tail; uncapped this would
    // build ~1000 layers (O(count) inserts — the round-1 303 s cliff)
    val rows = Seq.fill(1000)("hot") ++ (0 until 100).map(i => s"u$i")
    val df = rows.toDF("k").repartition(4)
    val blob = df.agg(lbf_agg(col("k"), 20000L, 1e-4).as("s")).head().getAs[Array[Byte]](0)
    val lbf = graft.sketch.LayeredBloom.deserialize(blob)
    assert(lbf.numLayers <= 5, s"cap must bound layers, got ${lbf.numLayers}")
    val c = lbf.count("hot".getBytes(UTF_8))
    assert(c >= 1 && c <= 5, s"capped count in [1,5], got $c")
    assert(lbf.count("u7".getBytes(UTF_8)) == 1)
    // uncapped opt-out still works for genuinely small counts (one
    // partition: OR-merge of split buffers is max-like, not additive)
    val blob0 = Seq("a", "a", "a").toDF("k").coalesce(1)
      .agg(lbf_agg(col("k"), 20000L, 1e-4, maxCount = 0L).as("s")).head().getAs[Array[Byte]](0)
    assert(graft.sketch.LayeredBloom.deserialize(blob0).count("a".getBytes(UTF_8)) == 3)
  }
}
