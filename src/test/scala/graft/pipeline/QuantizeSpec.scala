package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** int8 quantization: exact values on crafted vectors, the
  * per-component reconstruction bound, the all-zero edge, and
  * quantized-ranking agreement with exact cosine when the margin
  * dwarfs the quantization error. */
class QuantizeSpec extends AnyFunSuite with SharedSpark {

  private def embDF(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("int8 quantizes crafted vectors to known codes") {
    // amax = 2.0 -> scale 2/127; components at 0, +-amax, +-amax/2
    val e = embDF(Seq((0L, Array(2.0f, -2.0f, 1.0f, -1.0f, 0.0f, 0.5f))))
    val q = Quantize.int8(e).select("qv").head().getSeq[Long](0)
    // floor(v*127/2 + 0.5): 127, floor(-126.5) = -127, floor(64.0) = 64,
    // floor(-63.0) = -63, 0, floor(32.25) = 32
    assert(q == Seq(127L, -127L, 64L, -63L, 0L, 32L))
  }

  test("all-zero vectors quantize to zero codes, no NaN path") {
    val e = embDF(Seq((0L, Array(0.0f, 0.0f, 0.0f))))
    val r = Quantize.int8Audit(e).head()
    assert(r.getAs[String]("q_csv") == "0,0,0")
    assert(r.getAs[Boolean]("recon_ok"))
    assert(r.getAs[Long]("q_nrm2") == 0L)
  }

  test("reconstruction bound |q - v*127/amax| <= 0.5 holds on random-ish vectors") {
    // deterministic pseudo-random floats via hash mixing (no RNG state)
    val rows = (0L until 64L).map { id =>
      val v = Array.tabulate(16) { d =>
        val h = graft.hash.Murmur3x64.hash128(s"$id:$d".getBytes("UTF-8"))._1
        ((h % 2001L) / 1000.0f - 1.0f) * (1 + (id % 5))
      }
      (id, v)
    }
    val audit = Quantize.int8Audit(embDF(rows))
    assert(audit.filter(!col("recon_ok")).count() == 0)
    // codes stay in the int8 envelope
    val outOfRange = Quantize.int8(embDF(rows))
      .select(explode(col("qv")).as("q"))
      .filter(abs(col("q")) > 127).count()
    assert(outOfRange == 0)
  }

  test("distributed codes equal the sequential formula on random vectors") {
    val rnd = new scala.util.Random(20260819L)
    val rows = (0L until 50L).map { id =>
      val d = 1 + rnd.nextInt(16)
      val v = Array.fill(d)(if (rnd.nextInt(20) == 0) 0.0f
        else (rnd.nextFloat() - 0.5f) * (1 << rnd.nextInt(8)))
      (id, v)
    } :+ (50L, Array(0.0f, 0.0f)) // all-zero edge rides along
    def codes(v: Array[Float]): Seq[Long] = {
      val amax = v.map(x => math.abs(x.toDouble)).foldLeft(0.0)(math.max)
      if (amax == 0.0) Seq.fill(v.length)(0L)
      else v.map(x => math.floor(x.toDouble * 127.0 / amax + 0.5).toLong).toSeq
    }
    val expected = rows.map { case (id, v) => id -> codes(v).mkString(",") }.toMap
    val got = Quantize.int8Audit(embDF(rows)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("q_csv")).toMap
    assert(got == expected)
  }

  test("quantization is a shuffle-free codegen'd projection") {
    val rows = (0L until 32L).map { id =>
      (id, Array.tabulate(8)(d => (id * 31 + d * 7 % 13).toFloat - 6f))
    }
    // a local relation constant-folds to LocalTableScan; the operator's
    // real shape needs a file source, like every gate input
    val dir = java.nio.file.Files.createTempDirectory("quantplan").toString
    embDF(rows).write.mode("overwrite").parquet(dir)
    val plan = Quantize.int8(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
    // the `*(n)` prefix is executedPlan.toString's WholeStageCodegen marker
    assert("""\*\(\d+\) Project \[.*quantize_int8""".r.findFirstIn(plan).isDefined,
      s"quantization must run inside WholeStageCodegen:\n$plan")
  }

  test("IVF-SQ8 finds the exact neighbors when cells and margins are wide") {
    // two orthogonal clusters (x-z plane / y-w plane), members fanned
    // at 0/10/20/30 then 60/70/80 degrees from the cluster axis: each
    // query's exact top-3 (10-30 deg, cos >= 0.87) is separated from
    // rank 4 (60 deg, cos 0.5) by ~0.37 — two orders of magnitude
    // above int8 quantization error — so recall measures cell routing
    // and quantized ranking, not sub-resolution tie order
    val angles = Seq(0.0, 10.0, 20.0, 30.0, 60.0, 70.0, 80.0)
    val rows = (0 until 14).map { i =>
      val a = math.toRadians(angles(i / 2))
      val (c, s) = (math.cos(a).toFloat, math.sin(a).toFloat)
      val v = if (i % 2 == 0) Array(c, 0f, s, 0f) else Array(0f, c, 0f, s)
      (i.toLong, v)
    }
    val out = Quantize.ivfTopKQuantized(embDF(rows), nQueries = 2, k = 3,
      nCells = 2, lloydIters = 3, nProbe = 1, recallFloor = 1.0).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Boolean]("mean_recall_ok")),
      "nProbe=1 must already reach full recall on separated clusters")
  }

  test("quantized top-k matches exact ranking when margins are wide") {
    // corpus: query q0 plus 3 vectors at cosines ~1.0, ~0.7, ~0.0 —
    // separations >> int8 error, so the quantized order is the exact
    // order and every hit lands: n_hit = k
    val e = embDF(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.7f, 0.7f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))))
    val top = Quantize.topKQuantized(e, nQueries = 1, k = 3, recallFloor = 1.0)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 2L, 3L))
    assert(top.forall(_.getAs[Boolean]("recall_ok")))
    assert(top.forall(_.getAs[Long]("n_hit") == 3L))
    // quantized cosine of the near-duplicate neighbor is near 1
    assert(top.head.getAs[Double]("qcos") > 0.99)
  }
}
