package graft.agg

import graft.sketch._
import graft.agg.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Rollup of every sketch family through Spark: per-group partials built
 * by the family's aggregate, folded by `<name>_merge_agg` (Column) and
 * `graft_<name>_merge_agg` (SQL), compared with each other byte for
 * byte and with a single-pass build — byte-exact for the families whose
 * merge is order-free, within the family's guarantee for the rest.
 */
class MergeAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val n = 6000
  private val groups = 7
  private def key(i: Int): String = if (i % 5 == 0) s"hot${i % 3}" else s"key${i % 2500}"
  private def value(i: Int): Double = ((i.toLong * 7919) % n).toDouble // a permutation of 0 until n
  private def score(i: Int): Long = (i.toLong * 104729) % 10007

  private lazy val rows: DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i % groups, key(i), value(i), score(i))).toDF("g", "k", "v", "sc").repartition(4)
  }
  private lazy val inserted: Seq[String] = (0 until n).map(key).distinct
  private val absent: Seq[String] = (0 until 20000).map(i => s"absent$i")

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** one sketch family: build aggregate, Column merge, and the check of a
    * rolled-up sketch against the single-pass one */
  private case class Family(name: String, build: Column, merge: Column => Column,
                            check: (Array[Byte], Array[Byte]) => Unit)

  private def sameBytes(rolled: Array[Byte], single: Array[Byte]): Unit =
    assert(java.util.Arrays.equals(rolled, single), "rollup must equal the single-pass sketch byte for byte")

  private def fpRate(isIn: String => Boolean): Double = absent.count(isIn).toDouble / absent.size

  private def quantileErr(q: Double => Double): Double =
    (1 to 9).map(_ / 10.0).map(p => math.abs(q(p) / n - p)).max

  private val families: Seq[Family] = Seq(
    Family("bloom", bloom_agg(col("k"), 4000L, 1e-3), bloom_merge_agg, { (rolled, single) =>
      // the header count sums per-partial new adds, so only the bits are exact
      val h = BloomParams.HeaderSize
      sameBytes(rolled.drop(h), single.drop(h))
      assert(rolled.length == single.length)
    }),
    Family("sbf", sbf_agg(col("k"), 1000L, 1e-3), sbf_merge_agg, { (rolled, _) =>
      val s = ScalableBloom.deserialize(rolled)
      assert(inserted.forall(k => s.contains(bytes(k))), "no inserted key may be absent")
      assert(fpRate(k => s.contains(bytes(k))) <= 0.01)
    }),
    Family("lbf", lbf_agg(col("k"), 4000L, 1e-3), lbf_merge_agg, { (rolled, single) =>
      val l = LayeredBloom.deserialize(rolled)
      assert(inserted.forall(k => l.count(bytes(k)) >= 1), "no inserted key may be absent")
      assert((0 until 3).forall(i => l.count(bytes(s"hot$i")) == 5), "hot keys reach the default cap")
      assert(fpRate(k => l.count(bytes(k)) > 0) <= 0.01)
      assert(l.numLayers == LayeredBloom.deserialize(single).numLayers)
    }),
    Family("hll", hll_agg(col("k"), 12), hll_merge_agg, sameBytes),
    Family("cms", cms_agg(col("k"), 1e-3, 0.01), cms_merge_agg, sameBytes),
    Family("freq", freq_agg(col("k"), 32), freq_merge_agg, { (rolled, _) =>
      val f = FrequentItems.deserialize(rolled)
      assert(f.total == n)
      assert(f.error <= f.errorBound)
      val truth = (0 until n).map(key).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      (0 until 3).map(i => s"hot$i").foreach { k =>
        val est = f.estimate(k)
        assert(est <= truth(k) && truth(k) <= est + f.error, s"$k est=$est true=${truth(k)} err=${f.error}")
      }
    }),
    Family("tdigest", tdigest_agg(col("v"), 100.0), tdigest_merge_agg, { (rolled, _) =>
      val t = TDigest.deserialize(rolled)
      assert(quantileErr(t.quantile) <= 0.02)
    }),
    Family("kll", kll_agg(col("v"), 200), kll_merge_agg, { (rolled, _) =>
      val s = Kll.deserialize(rolled)
      assert(s.n == n)
      assert(quantileErr(s.quantile) <= 0.03)
    }),
    Family("kmv", kmv_agg(col("k"), 64), kmv_merge_agg, sameBytes),
    Family("topk", topk_agg(col("sc"), col("k"), 10), topk_merge_agg, sameBytes)
  )

  families.foreach { f =>
    test(s"${f.name}_merge_agg: Column and SQL rollups agree and match a single-pass build") {
      import spark.implicits._
      GraftFunctions.register(spark)
      // partials in group order on one partition, so order-sensitive
      // merges see the same sequence through both surfaces
      val parts = rows.groupBy("g").agg(f.build.as("s")).orderBy("g").collect()
        .map(r => (r.getInt(0), r.getAs[Array[Byte]]("s"))).toSeq
      assert(parts.size == groups)
      val partsDf = parts.toDF("g", "s").coalesce(1)
      partsDf.createOrReplaceTempView(s"parts_${f.name}")

      val byColumn = partsDf.agg(f.merge(col("s")))
      assert(byColumn.columns.toSeq == Seq(s"${f.name}_merge_agg(s)"))
      val bySql = spark.sql(s"SELECT graft_${f.name}_merge_agg(s) FROM parts_${f.name}")
      assert(bySql.columns.toSeq == Seq(s"${f.name}_merge_agg(s)"))
      val rolled = byColumn.head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(rolled, bySql.head().getAs[Array[Byte]](0)),
        "Column and SQL merge must produce the same bytes")

      val single = rows.agg(f.build.as("s")).head().getAs[Array[Byte]]("s")
      f.check(rolled, single)

      val nulls = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(null), org.apache.spark.sql.Row(null)), 2),
        StructType(Seq(StructField("s", BinaryType, nullable = true))))
      assert(nulls.agg(f.merge(col("s"))).head().isNullAt(0), "all-null input must merge to null")
      nulls.createOrReplaceTempView(s"nulls_${f.name}")
      assert(spark.sql(s"SELECT graft_${f.name}_merge_agg(s) FROM nulls_${f.name}").head().isNullAt(0))
    }
  }
}
