package perfbench

import graft.catalog.SketchCatalog
import graft.sketch.ScalableBloom
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/**
 * catalog_bulk: the reference's own bench shape (N `set`, then M `check`
 * against one filter) through the catalog's distributed surface. Each
 * round creates a fresh filter whose first layer is far larger than L2,
 * runs setKeys then checkKeys and consumes both per-key results, then
 * flush, close, and a first checkKeyLocal that faults the filter back in.
 */
final class BulkLeg(ctx: Ctx, val capacity: Long, probeCount: Long, warmCapacity: Long) extends Leg {
  import BulkLeg.Round
  private val spark = ctx.spark
  private val prob = 1e-4
  private val catalogDir = ctx.work.resolve("catalog")
  val catalog = new SketchCatalog(spark, catalogDir.toString)

  /** One filter size: its keys, and the key and probe DataFrames. Distinct
    * keys = capacity (design load); a further 10% repeat earlier keys. */
  private final class Shape(val capacity: Long, val probes: Long) {
    val keys: Gen.BulkKeys = Gen.BulkKeys(ctx.seed, capacity, 0.1)

    /** Gen.BulkKeys.key as a Spark expression over a range id column */
    private def keyExpr(i: Column): Column =
      concat(lit(s"k${keys.tag}-"),
        ((i * keys.distinct).divide(keys.total).cast("long") * keys.a + keys.b) % keys.distinct)

    val setDf: DataFrame = spark.range(0, keys.total, 1, ctx.threads).select(keyExpr(col("id")).as("key"))
    /** even ids probe inserted keys, odd ids never-inserted ones; more
      * partitions than cores, so a core slowed by the host takes fewer */
    val probeDf: DataFrame = spark.range(0, probes, 1, 4 * ctx.threads).select(
      when(col("id") % 2 === 0, keyExpr(col("id") * 7))
        .otherwise(concat(lit(s"a${keys.tag}-"), col("id"))).as("key"))
  }

  private val main = new Shape(capacity, probeCount)
  val keys: Gen.BulkKeys = main.keys

  private val rounds = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Round])
  private var seq = 0
  /** the filter of the latest round, kept until the run ends */
  private var last: String = _
  private var timedFp = 0L
  private var timedAbsent = 0L

  private def ms(t: Double): Double = t * 1e3

  private def once(sh: Shape): Round = {
    val ck = ctx.checker
    val name = s"bulk$seq"; seq += 1
    ck.expect(catalog.create(name, sh.capacity, prob) == "Done", s"create $name")
    var res: DataFrame = null
    val tSet = Leg.timed { res = ctx.call("catalog.setKeys")(catalog.setKeys(name, sh.setDf)).toOption.get }
    var setRow: org.apache.spark.sql.Row = null
    val tSetUse = Leg.timed {
      setRow = ctx.call("bulk.consume")(res.agg(count(lit(1)), sum(when(col("added"), 0L).otherwise(1L))).head())
    }
    val tCheck = Leg.timed { res = ctx.call("catalog.checkKeys")(catalog.checkKeys(name, sh.probeDf)).toOption.get }
    var checkRow: org.apache.spark.sql.Row = null
    val tCheckUse = Leg.timed {
      val ins = col("key").startsWith("k")
      checkRow = ctx.call("bulk.consume")(res.agg(count(lit(1)),
        sum(when(ins && !col("present"), 1L).otherwise(0L)),
        sum(when(!ins && col("present"), 1L).otherwise(0L))).head())
    }
    val tFlush = Leg.timed(ck.expect(ctx.call("catalog.flush")(catalog.flush(name)) == "Done", s"flush $name"))
    val tClose = Leg.timed(ck.expect(ctx.call("catalog.close")(catalog.close(name)) == "Done", s"close $name"))
    var fault: Either[String, Boolean] = null
    val tFault = Leg.timed { fault = ctx.call("catalog.faultIn")(catalog.checkKeyLocal(name, sh.keys.key(0))) }
    // a fresh filter holds nothing, so setKeys must answer added for every key
    val total = sh.keys.total
    if (ck.expect(setRow.getLong(0) == total, s"$name setKeys: ${setRow.getLong(0)} answers of $total")) {
      ck.ok(total - 1)
      if (setRow.getLong(1) > 0) ck.fail(s"$name setKeys: ${setRow.getLong(1)} keys not added to a fresh filter")
    }
    if (ck.expect(checkRow.getLong(0) == sh.probes, s"$name checkKeys: ${checkRow.getLong(0)} answers of ${sh.probes}")) {
      ck.ok(sh.probes - 1)
      if (checkRow.getLong(1) > 0) ck.fail(s"$name checkKeys: ${checkRow.getLong(1)} inserted keys answer absent")
    }
    if (sh eq main) { timedFp += checkRow.getLong(2); timedAbsent += sh.probes / 2 }
    ck.expect(fault == Right(true), s"$name fault-in check of an inserted key: $fault")
    System.err.println(f"bulk round: set $tSet%.2f+$tSetUse%.2f s, check $tCheck%.2f+$tCheckUse%.2f s")
    if (last != null) { catalog.drop(last); catalog.awaitDeletes() }
    last = name
    Round(tSet + tSetUse, tCheck + tCheckUse, tSetUse + tCheckUse, ms(tFlush), ms(tClose), ms(tFault))
  }

  /** one round at the companion size: the same code paths, warmed */
  def warm(): Unit = once(new Shape(warmCapacity, warmCapacity / 2))

  def measure(pass: Int, seconds: Double): Unit = Leg.repeat(seconds, 1)(_ => rounds(pass) += once(main))
  private def med(pass: Int)(f: Round => Double): Double = Stats.median(rounds(pass).toSeq.map(f))

  def throughput(pass: Int): Double =
    (keys.total + probeCount) / med(pass)(r => r.set + r.check)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("bulk_set_keys_per_s", keys.total / med(0)(_.set), "1/s"),
    ("bulk_check_keys_per_s", probeCount / med(0)(_.check), "1/s"))

  private def persisted: Array[Byte] = Files.readAllBytes(catalogDir.resolve(s"bloomd.$last").resolve("sketch.bin"))
  /** the latest round's filter as the catalog persisted it */
  lazy val filter: ScalableBloom = ScalableBloom.deserialize(persisted)

  private var fp = 0L
  private var absent = 0L

  def check(primary: Boolean): Unit = {
    val ck = ctx.checker
    // the filter as the catalog persisted it; ScalableBloom.contains is thread-safe
    val extra = if (primary) 20000000L else 0L
    val hits = Leg.parallelCount(extra, ctx.threads)(i =>
      filter.contains(keys.absentKey(probeCount + i).getBytes(UTF_8)))
    fp = timedFp + hits; absent = timedAbsent + extra
    val bound = Checks.sbfBound(keys.distinct, capacity, prob, 0.9)
    ck.expect(fp <= Checks.fpLimit(bound, absent), s"bulk fp $fp of $absent over bound $bound")
    // the persisted filter answers present for a sample of inserted keys
    val sample = 200000
    val missing = Leg.parallelCount(sample, ctx.threads)(i => !filter.contains(keys.key(i * 37L).getBytes(UTF_8)))
    ck.ok(sample - missing)
    if (missing > 0) ck.fail(s"persisted bulk filter: $missing inserted keys answer absent")
  }

  def falsePositives: (Long, Long) = (fp, absent)
  def bytesPerKey: Double = persisted.length.toDouble / keys.distinct

  /** Catalog and large-filter metrics, from the traced pass. */
  def perLayer(): Seq[(String, Double, String)] = Seq(
    ("catalog.set_keys_s", Stats.median(ctx.trace.named("catalog.setKeys").map(_.ns / 1e9)), "s"),
    ("catalog.check_keys_s", Stats.median(ctx.trace.named("catalog.checkKeys").map(_.ns / 1e9)), "s"),
    ("catalog.consume_s", med(1)(_.consume), "s"),
    ("catalog.flush_ms", med(1)(_.flushMs), "ms"),
    ("catalog.close_ms", med(1)(_.closeMs), "ms"),
    ("catalog.fault_in_ms", med(1)(_.faultInMs), "ms"),
    ("catalog.persisted_bytes", persisted.length.toDouble, "bytes"),
    ("sketch.sbf_layers", filter.numLayers.toDouble, "count"),
    ("sketch.fill_ratio", filter.layers.map { case (_, f) => f.bitsSet.toDouble / f.bitmapSize }.max, "ratio"))

  def sampleKeys(n: Int): Array[Array[Byte]] = Array.tabulate(n)(i => keys.key(i * 101L).getBytes(UTF_8))

  def close(): Unit = catalog.stopBackground()
}

object BulkLeg {
  final case class Round(set: Double, check: Double, consume: Double,
                         flushMs: Double, closeMs: Double, faultInMs: Double)
}
