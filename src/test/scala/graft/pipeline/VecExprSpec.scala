package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native vector expressions: the one-pass LSH bucketing must equal
  * the column-composed definition bit-for-bit; the vector-sum
  * aggregate must equal the posexplode/groupBy shape it replaces. */
class VecExprSpec extends AnyFunSuite with SharedSpark {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("SignLshBuckets equals the composed sign-bit columns") {
    val tables = 6
    val bits = 4
    val nDims = 64
    // reference composition: per plane, aggregate(zip_with(...)) sign
    def planeCol(p: Int) =
      array((0 until nDims).map(d => lit(Ann.planeComponent(p, d))): _*)
    def signBit(p: Int) =
      when(aggregate(zip_with(col("v"), planeCol(p), (x, s) => x * s),
        lit(0.0), (a, x) => a + x) > 0.0, 1L).otherwise(0L)
    def bucketKey(t: Int) =
      (0 until bits).map(b => signBit(t * bits + b) * (1L << b)).reduce(_ + _)
    val composed = emb.select(col("vec_id"),
      array((0 until tables).map(bucketKey): _*).as("keys"))
    val native = emb.select(col("vec_id"),
      VecFunctions.lsh_buckets(col("v"), tables, bits).as("keys"))
    val c = composed.orderBy("vec_id").collect().map(_.getSeq[Long](1))
    val n = native.orderBy("vec_id").collect().map(_.getSeq[Long](1))
    assert(c.length == n.length && c.length > 0)
    c.zip(n).foreach { case (a, b) => assert(a == b) }
  }

  test("VecSumAgg equals posexplode + per-dim sum") {
    val viaAgg = emb.withColumn("g", (col("vec_id") % 4).cast("int"))
      .groupBy("g").agg(VecFunctions.vec_sum_agg(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = emb.withColumn("g", (col("vec_id") % 4).cast("int"))
      .select(col("g"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("g", "d").agg(sum(col("x")).as("s"))
      .collect().groupBy(_.getInt(0))
      .map { case (g, rows) =>
        val arr = new Array[Double](64)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        g -> arr.toSeq
      }
    assert(viaAgg.keySet == viaExplode.keySet)
    viaAgg.foreach { case (g, s) =>
      s.zip(viaExplode(g)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("VecSumAgg merges across partitions") {
    import spark.implicits._
    val df = (1 to 100).map(i => Seq(i.toDouble, 2.0 * i)).toDF("v").repartition(7)
    val s = df.agg(VecFunctions.vec_sum_agg(col("v"))).head().getSeq[Double](0)
    assert(s == Seq(5050.0, 10100.0))
  }

  test("NearestCell L2 equals the literal-per-centroid argmin, incl. ties and many cells") {
    val cents = (0 until 300).map(i =>
      Array.tabulate(64)(d => math.sin(i * 0.37 + d * 0.11))).toSeq
    // literal reference form (what cellCol used to build)
    def sqn(c: Array[Double]) = c.foldLeft(0.0)((a, x) => a + x * x)
    val dists = array(cents.map(c =>
      VecFunctions.vec_dot(col("v"), typedlit(c.toSeq)) * -2.0 + sqn(c)): _*)
    val litCell = (array_position(dists, array_min(dists)) - 1).cast("int")
    val rows = emb
      .withColumn("nc", VecFunctions.nearest_cell_l2(col("v"), cents))
      .select(col("vec_id"), col("nc.cell").as("fast"), litCell.as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"vec ${r.get(0)}"))
    // explicit tie: two identical centroids -> first index wins, both paths
    import spark.implicits._
    val dup = Seq(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0)).toSeq
    val one = Seq(Seq(1.0, 0.1)).toDF("v")
      .select(VecFunctions.nearest_cell_l2(col("v"), dup).getField("cell")).head().getInt(0)
    assert(one == 0, "tie must resolve to the first centroid index")
    // dot mode: argmax, score is the winning dot product
    val nc = Seq(Seq(0.0, 2.0)).toDF("v")
      .select(VecFunctions.nearest_cell_dot(col("v"), dup).as("nc"))
      .select(col("nc.cell"), col("nc.score")).head()
    assert(nc.getInt(0) == 2 && nc.getDouble(1) == 2.0)
  }
}
