package perfbench

import graft.agg.GraftFunctions._
import graft.sketch.{BloomFilter, Hll}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8

/**
 * build_tokens: scan -> explode -> groupBy(source) -> bloom_agg + hll_agg
 * -> noop sink over a seeded token table written once to parquet; the
 * flagship build shape. Twenty ~47 KB blooms stay cache-resident.
 */
final class BuildLeg(ctx: Ctx, targetTokens: Long) extends Leg {
  import Gen._
  private val spark = ctx.spark
  private val dir = ctx.work.resolve("tokens").toString
  val table: TokenTable = Gen.tokenTable(ctx.seed, targetTokens)

  locally {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("n_tok", IntegerType, nullable = false),
      StructField("source", StringType, nullable = false)))
    val rows = table.docs.toSeq.map(d => Row(d.docId, d.tokens.toSeq, d.tokens.length, sourceName(d.source)))
    // more files than cores, so a core slowed by the host takes fewer of them
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4 * ctx.threads), schema)
      .write.mode("overwrite").parquet(dir)
  }

  private def build(): DataFrame =
    spark.read.parquet(dir)
      .select(col("source"), explode(col("tokens")).as("tok"))
      .groupBy("source")
      .agg(bloom_agg(col("tok"), BloomCapacity, BloomProb).as("bloom"),
        hll_agg(col("tok"), HllPrecision).as("hll"))

  private val times = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Double])

  private def once(): Double =
    Leg.timed(ctx.call("build.job")(build().write.format("noop").mode("overwrite").save()))

  /** JIT settles over several rounds: warm for at least two seconds and
    * until two rounds agree within 5%, but no longer than four seconds */
  def warm(): Unit = {
    val t0 = System.nanoTime()
    def spent = (System.nanoTime() - t0) / 1e9
    var prev = once()
    var cur = once()
    while (spent < 4 && (spent < 2 || math.abs(cur - prev) > 0.05 * prev)) { prev = cur; cur = once() }
  }

  def measure(pass: Int, seconds: Double): Unit = {
    Leg.repeat(seconds, 3)(_ => times(pass) += once())
    System.err.println(times(pass).map(t => f"$t%.2f").mkString("build rounds: ", " ", " s"))
  }

  def throughput(pass: Int): Double = table.totalTokens / Stats.median(times(pass).toSeq)

  def endToEnd: Seq[(String, Double, String)] = Seq(("build_tokens_per_s", throughput(0), "1/s"))

  private var fp = 0L
  private var probes = 0L
  private var bytes = 0L

  def check(primary: Boolean): Unit = {
    val ck = ctx.checker
    val got = build().collect().map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))).toMap
    ck.expect(got.keySet == (0 until Sources).map(sourceName).toSet, s"sources: ${got.keySet.toSeq.sorted}")
    val probesPerSource = if (primary) 500000L else 20000L
    for (s <- 0 until Sources; (bloomBlob, hllBlob) <- got.get(sourceName(s))) {
      val bloom = BloomFilter.deserialize(bloomBlob)
      bytes += bloomBlob.length
      val missing = Checks.falseNegatives(table.vocab(s).iterator.map(_.toString.getBytes(UTF_8)))(bloom.containsKey)
      ck.ok(VocabPerSource - missing)
      if (missing > 0) ck.fail(s"${sourceName(s)}: $missing inserted tokens answer absent")
      val est = Hll.deserialize(hllBlob).estimate
      val tol = Checks.hllTolerance(HllPrecision, Sources)
      ck.expect(math.abs(est - VocabPerSource).toDouble / VocabPerSource <= tol,
        s"${sourceName(s)}: hll estimate $est vs $VocabPerSource distinct")
      // containsKey(Array) hashes into a fresh array, so threads may share the filter
      val hits = Leg.parallelCount(probesPerSource, ctx.threads) { i =>
        bloom.containsKey((AbsentTokenBase + i).toString.getBytes(UTF_8))
      }
      fp += hits; probes += probesPerSource
    }
    ck.expect(fp <= Checks.fpLimit(BloomProb, probes), s"build fp $fp of $probes over bound $BloomProb")
  }

  def falsePositives: (Long, Long) = (fp, probes)
  def bytesPerKey: Double = bytes.toDouble / (Sources.toLong * VocabPerSource)

  def sampleKeys(n: Int): Array[Array[Byte]] = {
    val r = Gen.rng(ctx.seed, 9)
    Array.fill(n) {
      val d = table.docs(r.nextInt(table.docs.length))
      d.tokens(r.nextInt(d.tokens.length)).toString.getBytes(UTF_8)
    }
  }

  def close(): Unit = ()
}
