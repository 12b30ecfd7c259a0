package graft.agg

import graft.agg.GraftFunctions._
import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Sort-based-fallback path of ObjectHashAggregate: when the in-memory
 * group map exceeds `spark.sql.objectHashAggregate.sortBased.
 * fallbackThreshold`, Spark serializes our TypedImperativeAggregate
 * buffers and finishes with sort-based aggregation. At 10^12 rows with
 * high-cardinality group keys this WILL happen, so the
 * serialize → sort → deserialize → merge round-trip must be lossless.
 */
class SpillSpec extends AnyFunSuite with SharedSpark {

  test("sketch aggregates survive the sort-based fallback: high-cardinality groupBy is exact") {
    // force the fallback after 16 groups per partition (default 128)
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16") {
      import spark.implicits._
      // 2000 groups x 50 keys each, 3 partitions -> every partition map
      // blows past the threshold and falls back
      val df = spark.range(0, 100000, 1, 3)
        .select((col("id") % 2000).as("g"), concat(lit("k"), col("id")).as("key"))
      val out = df.groupBy("g")
        .agg(bloom_agg(col("key"), 2000L, 1e-3).as("bloom"),
          hll_agg(col("key"), 12).as("hll"),
          cms_agg(col("key"), 1e-3, 0.01).as("cms"))
        .select(col("g"), bloom_count(col("bloom")).as("bc"),
          hll_estimate(col("hll")).as("he"), cms_total(col("cms")).as("ct"))
        .collect()
      assert(out.length == 2000)
      out.foreach { r =>
        assert(r.getAs[Long]("bc") == 50, s"bloom count for group ${r.get(0)}")
        assert(r.getAs[Long]("ct") == 50, s"cms total for group ${r.get(0)}")
        val he = r.getAs[Long]("he")
        assert(he >= 47 && he <= 53, s"hll estimate $he for group ${r.get(0)}")
      }
      // membership through the fallback path: zero false negatives
      val sketches = df.groupBy("g")
        .agg(bloom_agg(col("key"), 2000L, 1e-3).as("bloom"))
      val misses = df.join(sketches, Seq("g"))
        .filter(!bloom_contains(col("bloom"), col("key")))
        .count()
      assert(misses == 0, "false negatives after sort-based fallback")
    }
  }
}
