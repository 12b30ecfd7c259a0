package graft.agg

import graft.SharedSpark
import graft.agg.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/**
 * [[SketchOverExplode]]: every query is run with the rule active (it is
 * installed in every session through the ServiceLoader) and again with
 * `spark.sql.optimizer.excludedRules` naming it; the two answers must
 * be equal byte for byte. The input is one parquet file, so each group
 * has one partial buffer and order-dependent sketches (bloom count,
 * lbf, freq) are comparable too.
 */
class SketchOverExplodeSpec extends AnyFunSuite with SharedSpark {

  /** group 9 holds only null and empty arrays: it must stay absent */
  private val EmptyGroup = 9

  private lazy val tableDir = java.nio.file.Files.createTempDirectory("soe").resolve("t").toString

  private lazy val table: DataFrame = {
    val r = new scala.util.Random(7)
    val edgeInts = Seq[Integer](Int.MinValue, Int.MaxValue, -1, 0, 9, 10, -10, 99, 100, -100, -128, -32768,
      999999999, -1000000000)
    val edgeLongs = Seq[java.lang.Long](Long.MinValue, Long.MaxValue, Int.MinValue.toLong - 1, Int.MaxValue.toLong + 1,
      -1L, 0L, 1000000000000L, -99999999999999L, 1234567890123456789L)
    def maybeNull[T](x: T): T = if (r.nextInt(20) == 0) null.asInstanceOf[T] else x
    val rows = (0 until 600).map { i =>
      val g = i % 6
      val n = r.nextInt(12)
      val ints = (0 until n).map(_ => maybeNull[Integer](
        if (r.nextInt(8) == 0) edgeInts(r.nextInt(edgeInts.size)) else Int.box(r.nextInt(4000) - 2000)))
      val longs = (0 until n).map(_ => maybeNull[java.lang.Long](
        if (r.nextInt(8) == 0) edgeLongs(r.nextInt(edgeLongs.size)) else Long.box(r.nextLong() >> r.nextInt(64))))
      val strs = (0 until n).map(_ => maybeNull(s"w${r.nextInt(500)}"))
      // narrowing keeps the sign: -128 and -32768 become the narrow MinValues
      val shorts = ints.map(x => if (x == null) null else java.lang.Short.valueOf(x.toShort))
      val bytes = ints.map(x => if (x == null) null else java.lang.Byte.valueOf(x.toByte))
      if (i % 50 == 7) Row(g, null, null, null, null, null, null)
      else Row(g, ints, longs, strs, strs.filter(_ != null).mkString(" "), shorts, bytes)
    } ++ Seq(Row(EmptyGroup, Seq.empty, Seq.empty, Seq.empty, "", Seq.empty, Seq.empty),
      Row(EmptyGroup, null, null, null, null, null, null))
    val schema = StructType(Seq(
      StructField("g", IntegerType),
      StructField("ints", ArrayType(IntegerType)),
      StructField("longs", ArrayType(LongType)),
      StructField("strs", ArrayType(StringType)),
      StructField("text", StringType),
      StructField("shorts", ArrayType(ShortType)),
      StructField("bytes", ArrayType(ByteType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(tableDir)
    spark.read.parquet(tableDir)
  }

  private def withoutRule[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> SketchOverExplode.ruleName)(f)

  private def hasGenerate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate])

  /** rows rendered with binary columns as hex, sorted */
  private def answer(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** runs `query` with and without the rule: same answer, and the rule fired */
  private def sameWithRule(query: => DataFrame): Seq[String] = {
    val df = query
    assert(!hasGenerate(df), s"explode was not fused:\n${df.queryExecution.optimizedPlan}")
    val fused = answer(df)
    val plain = withoutRule {
      val p = query
      assert(hasGenerate(p), "excludedRules must turn the rule off")
      answer(p)
    }
    assert(fused == plain)
    fused
  }

  private def sketches(e: Column): Seq[Column] = Seq(
    bloom_agg(e, 2000L, 0.01).as("bloom"), hll_agg(e, 10).as("hll"),
    sbf_agg(e, 300L, 0.01).as("sbf"), lbf_agg(e, 2000L, 0.01).as("lbf"),
    cms_agg(e, 0.01, 0.01).as("cms"), freq_agg(e, 8).as("freq"), kmv_agg(e, 16).as("kmv"))

  Seq("ints", "longs", "strs", "shorts", "bytes").foreach { c =>
    test(s"every keyed sketch over an exploded $c array is byte-identical when fused, count(1) included") {
      val got = sameWithRule(table.select(col("g"), explode(col(c)).as("e"))
        .groupBy("g").agg(sketches(col("e")).head, (sketches(col("e")).tail :+ count(lit(1)).as("n")): _*))
      assert(got.size == 6, "the group with only null and empty arrays must be absent")
      val elements = table.select(col("g"), explode(col(c))).count()
      assert(got.map(_.split('|').last.toLong).sum == elements, "count(1) counts exploded rows, null elements included")
    }
  }

  test("keys are the cast's digits: negative, MinValue and MaxValue integers probe as their strings") {
    val df = table.select(explode(col("longs")).as("e")).agg(bloom_agg(col("e").cast("string"), 20000L, 1e-4))
    assert(!hasGenerate(df))
    val bloom = graft.sketch.BloomFilter.deserialize(df.head().getAs[Array[Byte]](0))
    val present = table.select(explode(col("longs"))).collect().filter(!_.isNullAt(0)).map(_.getLong(0))
    assert(present.contains(Long.MinValue) && present.contains(Int.MinValue.toLong - 1))
    assert(present.forall(v => bloom.containsKey(v.toString.getBytes(UTF_8))))
  }

  test("the digit writer matches toString on edge and random integers") {
    val buf = new Array[Byte](DecimalKey.MaxLen)
    val r = new scala.util.Random(3)
    val ints = Seq(Int.MinValue, Int.MinValue + 1, Int.MaxValue, 0, -1, 9, 10, -9, -10, 99, 100, -99, -100) ++
      Seq.fill(2000)(r.nextInt() >> r.nextInt(32))
    ints.foreach(v => assert(new String(buf, 0, DecimalKey.write(v, buf), UTF_8) == v.toString))
    val longs = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue, Int.MinValue.toLong - 1, Int.MaxValue.toLong + 1,
      -10000000000L, 9999999999L, 100000000000000000L) ++ Seq.fill(2000)(r.nextLong() >> r.nextInt(64))
    longs.foreach(v => assert(new String(buf, 0, DecimalKey.write(v, buf), UTF_8) == v.toString))
  }

  test("a global aggregate over empty input keeps its one row and counts 0") {
    val got = sameWithRule(table.where(col("g") < 0).select(explode(col("ints")).as("e"))
      .agg(bloom_agg(col("e"), 1000L, 0.01).as("b"), hll_agg(col("e")).as("h"), count(lit(1)).as("n")))
    assert(got.size == 1 && got.head.endsWith("|0"))
  }

  test("SQL LATERAL VIEW explode with graft_* functions and count(*) is fused") {
    table.createOrReplaceTempView("soe_t")
    val got = sameWithRule(spark.sql(
      """SELECT g, graft_bloom_agg(tok, 2000, 0.01) AS b, graft_hll_agg(tok, 10) AS h,
        |       graft_freq_agg(tok, 8) AS f, count(*) AS n
        |FROM soe_t LATERAL VIEW explode(ints) x AS tok GROUP BY g""".stripMargin))
    assert(got.size == 6)
  }

  test("a streaming aggregate keeps its Generate: the rewrite would change its state schema") {
    def query(src: DataFrame) = src.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g").agg(bloom_agg(col("e"), 1000L, 0.01).as("b"), count(lit(1)).as("n"))
    assert(!hasGenerate(query(table)), "the same batch query is fused")
    val stream = query(spark.readStream.schema(table.schema).parquet(tableDir))
    val checkpoint = java.nio.file.Files.createTempDirectory("soe-ckpt").toString
    val q = stream.writeStream.format("memory").queryName("soe_stream").outputMode("complete")
      .option("checkpointLocation", checkpoint).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      assert(plan.exists(_.isInstanceOf[Generate]), s"a streaming aggregate was rewritten:\n$plan")
      assert(answer(spark.table("soe_stream")) == withoutRule(answer(query(table))))
    } finally q.stop()
  }

  test("the rule is idempotent") {
    val analyzed = table.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g").agg(bloom_agg(col("e"), 1000L, 0.01)).queryExecution.analyzed
    val once = SketchOverExplode(analyzed)
    assert(!once.exists(_.isInstanceOf[Generate]))
    assert(SketchOverExplode(once) == once)
  }

  private def aggOf(e: Column, distinct: Boolean = false, filter: Option[Column] = None): Column =
    ColumnShim.column(AggregateExpression(
      BloomAgg(Cast(ColumnShim.expression(e), StringType), 1000L, 0.01), Complete, distinct,
      filter.map(ColumnShim.expression)))

  Seq[(String, () => DataFrame)](
    "outer explode" -> (() => table.select(col("g"), explode_outer(col("ints")).as("e"))
      .groupBy("g").agg(bloom_agg(col("e"), 1000L, 0.01))),
    "posexplode" -> (() => table.select(col("g"), posexplode(col("ints")).as(Seq("p", "e")))
      .groupBy("g").agg(bloom_agg(col("e"), 1000L, 0.01))),
    "a DISTINCT aggregate" -> (() => table.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g").agg(aggOf(col("e"), distinct = true))),
    "a FILTER clause" -> (() => table.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g").agg(aggOf(col("e"), filter = Some(col("e") > 0)))),
    "sum(e) beside the sketch" -> (() => table.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g").agg(bloom_agg(col("e"), 1000L, 0.01), sum(col("e")))),
    "e in the grouping keys" -> (() => table.select(col("g"), explode(col("ints")).as("e"))
      .groupBy("g", "e").agg(hll_agg(col("e")))),
    "a computed explode(split(...)) array" -> (() =>
      table.select(col("g"), explode(split(col("text"), " ")).as("w"))
        .groupBy("g").agg(bloom_agg(col("w"), 1000L, 0.01), count(lit(1)))),
    "a map explode" -> (() => table.select(col("g"), explode(map(col("g"), col("text"))).as(Seq("k", "v")))
      .groupBy("g").agg(bloom_agg(col("v"), 1000L, 0.01)))
  ).foreach { case (what, query) =>
    test(s"the plan keeps its Generate for $what") {
      val df = query()
      assert(hasGenerate(df), s"rewritten although it sees one row per element:\n${df.queryExecution.optimizedPlan}")
      assert(answer(df) == withoutRule(answer(query())))
    }
  }
}
