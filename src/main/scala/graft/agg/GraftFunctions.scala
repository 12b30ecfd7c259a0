package graft.agg

import graft.sketch._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.graftshim.ColumnShim

/**
 * The user-facing function surface of the engine — Column builders for
 * every sketch aggregation and probe, plus SQL registration. Mirrors
 * the reference's wire operators (SURVEY.md §2.1) in Spark idiom:
 *
 *   set/bulk  -> groupBy(...).agg(bloom_agg|sbf_agg|lbf_agg(key))
 *   check     -> bloom_contains/sbf_contains/lbf_count(sketch, key)
 *   info size -> bloom_count/sbf_size/lbf_size(sketch)
 */
object GraftFunctions {

  private def col(e: Expression): Column = ColumnShim.column(e)
  private def ex(c: Column): Expression = ColumnShim.expression(c)
  private def agg(a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    col(AggregateExpression(a, org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))

  // ---- aggregations (reference create-params validated in SketchCatalog) ----

  def bloom_agg(key: Column, capacity: Long, fpProb: Double): Column =
    agg(BloomAgg(ex(key.cast("string")), capacity, fpProb))

  def sbf_agg(key: Column, initialCapacity: Long = 100000L, fpProb: Double = 1e-4,
              scaleSize: Int = 4, probReduction: Double = 0.9): Column =
    agg(SbfAgg(ex(key.cast("string")), initialCapacity, fpProb, scaleSize, probReduction))

  /** `maxCount` bounds layer growth (O(count) inserts — see LbfAgg
    * scaladoc); 0 = uncapped, default 5 = the structure's regime. */
  def lbf_agg(key: Column, capacity: Long, fpProb: Double, maxCount: Long = 5L): Column =
    agg(LbfAgg(ex(key.cast("string")), capacity, fpProb, maxCount))

  def hll_agg(key: Column, precision: Int = 14): Column =
    agg(HllAgg(ex(key.cast("string")), precision))

  def cms_agg(key: Column, eps: Double = 1e-4, delta: Double = 0.01): Column =
    agg(CmsAgg(ex(key.cast("string")), eps, delta))

  /** Misra–Gries heavy hitters: k counters, per-item undercount
    * <= n/(k+1) under any merge order. */
  def freq_agg(key: Column, k: Int = 64): Column =
    agg(FreqAgg(ex(key.cast("string")), k))

  def tdigest_agg(value: Column, compression: Double = 100.0): Column =
    agg(TDigestAgg(ex(value.cast("double")), compression))

  def kll_agg(value: Column, k: Int = 200): Column =
    agg(KllAgg(ex(value.cast("double")), k))

  /** KMV bottom-k distinct sketch (set-op capable; MD5-hashed so any
    * engine can replay it byte-exactly). */
  def kmv_agg(key: Column, k: Int = 64): Column =
    agg(KmvAgg(ex(key.cast("string")), k))

  /** Exact top-k rows by score (score DESC, item ASC — deterministic
    * and SQL-replayable); partials carry k rows, never the group. */
  def topk_agg(score: Column, item: Column, k: Int = 10): Column =
    agg(TopKAgg(ex(score.cast("long")), ex(item.cast("string")), k))

  // ---- merge/rollup aggregations over serialized sketches ----

  def bloom_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), BloomFilter))
  def sbf_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), ScalableBloom))
  def lbf_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), LayeredBloom))
  def hll_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), Hll))
  def cms_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), CountMin))
  def freq_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), FrequentItems))
  def tdigest_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), TDigest))
  def kll_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), Kll))
  def kmv_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), Kmv))
  def topk_merge_agg(sketch: Column): Column = agg(SketchMergeAgg(ex(sketch), TopK))

  // ---- probes / inspectors ----

  /** ranked rows of a serialized TopK: array<struct<score, item>> */
  def topk_items(sketch: Column): Column = col(TopKItems(ex(sketch)))

  def kmv_estimate(sketch: Column): Column = col(KmvEstimate(ex(sketch)))
  def kmv_union_estimate(a: Column, b: Column): Column =
    col(KmvUnionEstimate(ex(a), ex(b)))
  def kmv_shared_in_union(a: Column, b: Column): Column =
    col(KmvSharedInUnion(ex(a), ex(b)))

  /** a serialized sketch of `bytes` bytes held by a broadcast handle
    * ([[SketchRef]]): probes read it like a sketch column, and plans
    * print `sketch#<id>(<n> bytes)` instead of the blob */
  def sketch_ref(bc: Broadcast[Array[Byte]], bytes: Int): Column = col(SketchRef(bc, bytes))

  /** `blob` broadcast and held by a [[SketchRef]]. The broadcast is not
    * destroyed here: a lazily consumed plan may read it at any later
    * time, and Spark's ContextCleaner removes it once no plan that
    * references it is reachable. */
  def sketch_ref(spark: SparkSession, blob: Array[Byte]): Column =
    sketch_ref(spark.sparkContext.broadcast(blob), blob.length)

  def bloom_contains(sketch: Column, key: Column): Column = col(BloomContains(ex(sketch), ex(key.cast("string"))))
  def sbf_contains(sketch: Column, key: Column): Column = col(SbfContains(ex(sketch), ex(key.cast("string"))))
  def lbf_count(sketch: Column, key: Column): Column = col(LbfCount(ex(sketch), ex(key.cast("string"))))
  def bloom_count(sketch: Column): Column = col(BloomCount(ex(sketch)))
  def bloom_estimate(sketch: Column): Column = col(BloomEstimate(ex(sketch)))
  def sbf_size(sketch: Column): Column = col(SbfSize(ex(sketch)))
  def sbf_num_layers(sketch: Column): Column = col(SbfNumLayers(ex(sketch)))
  def sbf_total_capacity(sketch: Column): Column = col(SbfTotalCapacity(ex(sketch)))
  def lbf_size(sketch: Column): Column = col(LbfSize(ex(sketch)))
  def hll_estimate(sketch: Column): Column = col(HllEstimate(ex(sketch)))
  def cms_estimate(sketch: Column, key: Column): Column = col(CmsEstimate(ex(sketch), ex(key.cast("string"))))
  def cms_total(sketch: Column): Column = col(CmsTotal(ex(sketch)))
  def freq_estimate(sketch: Column, key: Column): Column = col(FreqEstimate(ex(sketch), ex(key.cast("string"))))
  def freq_error(sketch: Column): Column = col(FreqError(ex(sketch)))
  def freq_total(sketch: Column): Column = col(FreqTotal(ex(sketch)))
  def freq_num_tracked(sketch: Column): Column = col(FreqNumTracked(ex(sketch)))
  def tdigest_quantile(sketch: Column, q: Column): Column = col(TDigestQuantile(ex(sketch), ex(q.cast("double"))))
  def tdigest_cdf(sketch: Column, x: Column): Column = col(TDigestCdf(ex(sketch), ex(x.cast("double"))))
  def kll_quantile(sketch: Column, q: Column): Column = col(KllQuantile(ex(sketch), ex(q.cast("double"))))
  def kll_rank(sketch: Column, x: Column): Column = col(KllRank(ex(sketch), ex(x.cast("double"))))
  def kll_n(sketch: Column): Column = col(KllN(ex(sketch)))

  // ---- SQL registration ----

  private def lit2Long(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()
  private def lit2Double(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"expected numeric literal, got $other")
  }
  private def lit2Int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** All `graft_*` SQL function builders, installed in every session
    * by [[GraftExtensions]]. */
  lazy val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Expression] => Expression)]
    def add(name: String)(builder: Seq[Expression] => Expression): Unit =
      acc += ((name, builder))

    add("graft_bloom_agg")(es => AggregateExpression(
      BloomAgg(Cast(es.head, StringType), lit2Long(es(1)), lit2Double(es(2))),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_sbf_agg")(es => AggregateExpression(
      SbfAgg(Cast(es.head, StringType),
        if (es.length > 1) lit2Long(es(1)) else 100000L,
        if (es.length > 2) lit2Double(es(2)) else 1e-4,
        if (es.length > 3) lit2Int(es(3)) else 4,
        if (es.length > 4) lit2Double(es(4)) else 0.9),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_lbf_agg")(es => AggregateExpression(
      LbfAgg(Cast(es.head, StringType), lit2Long(es(1)), lit2Double(es(2)),
        if (es.length > 3) lit2Long(es(3)) else 5L),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_bloom_contains")(es => BloomContains(es.head, Cast(es(1), StringType)))
    add("graft_sbf_contains")(es => SbfContains(es.head, Cast(es(1), StringType)))
    add("graft_lbf_count")(es => LbfCount(es.head, Cast(es(1), StringType)))
    add("graft_bloom_count")(es => BloomCount(es.head))
    add("graft_bloom_estimate")(es => BloomEstimate(es.head))
    add("graft_sbf_size")(es => SbfSize(es.head))
    add("graft_sbf_num_layers")(es => SbfNumLayers(es.head))
    add("graft_sbf_total_capacity")(es => SbfTotalCapacity(es.head))
    add("graft_lbf_size")(es => LbfSize(es.head))
    add("graft_hll_agg")(es => AggregateExpression(
      HllAgg(Cast(es.head, StringType), if (es.length > 1) lit2Int(es(1)) else 14),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_cms_agg")(es => AggregateExpression(
      CmsAgg(Cast(es.head, StringType),
        if (es.length > 1) lit2Double(es(1)) else 1e-4,
        if (es.length > 2) lit2Double(es(2)) else 0.01),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_freq_agg")(es => AggregateExpression(
      FreqAgg(Cast(es.head, StringType), if (es.length > 1) lit2Int(es(1)) else 64),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_freq_estimate")(es => FreqEstimate(es.head, Cast(es(1), StringType)))
    add("graft_freq_error")(es => FreqError(es.head))
    add("graft_freq_total")(es => FreqTotal(es.head))
    add("graft_freq_num_tracked")(es => FreqNumTracked(es.head))
    add("graft_tdigest_agg")(es => AggregateExpression(
      TDigestAgg(Cast(es.head, DoubleType), if (es.length > 1) lit2Double(es(1)) else 100.0),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_kll_agg")(es => AggregateExpression(
      KllAgg(Cast(es.head, DoubleType), if (es.length > 1) lit2Int(es(1)) else 200),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_hll_estimate")(es => HllEstimate(es.head))
    add("graft_cms_estimate")(es => CmsEstimate(es.head, Cast(es(1), StringType)))
    add("graft_cms_total")(es => CmsTotal(es.head))
    add("graft_tdigest_quantile")(es => TDigestQuantile(es.head, Cast(es(1), DoubleType)))
    add("graft_tdigest_cdf")(es => TDigestCdf(es.head, Cast(es(1), DoubleType)))
    add("graft_kll_quantile")(es => KllQuantile(es.head, Cast(es(1), DoubleType)))
    add("graft_kll_rank")(es => KllRank(es.head, Cast(es(1), DoubleType)))
    add("graft_kll_n")(es => KllN(es.head))
    add("graft_topk_agg")(es => AggregateExpression(
      TopKAgg(Cast(es.head, LongType), Cast(es(1), StringType),
        if (es.length > 2) lit2Int(es(2)) else 10),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_topk_items")(es => TopKItems(es.head))
    add("graft_kmv_agg")(es => AggregateExpression(
      KmvAgg(Cast(es.head, StringType), if (es.length > 1) lit2Int(es(1)) else 64),
      org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    add("graft_kmv_estimate")(es => KmvEstimate(es.head))
    add("graft_kmv_union_estimate")(es => KmvUnionEstimate(es.head, es(1)))
    add("graft_kmv_shared_in_union")(es => KmvSharedInUnion(es.head, es(1)))
    // the vector/text expression family, so the similarity and
    // quantization paths are reachable from pure SQL text too
    // (Thrift/Connect sessions via the extensions install path)
    add("graft_vec_dot")(es => graft.pipeline.VecDot(es.head, es(1)))
    add("graft_quantize_int8")(es => graft.pipeline.QuantizeInt8(es.head))
    add("graft_lsh_buckets")(es =>
      graft.pipeline.SignLshBuckets(es.head, lit2Int(es(1)), lit2Int(es(2))))
    add("graft_minhash_sig")(es => graft.pipeline.MinHashSig(es.head, lit2Int(es(1))))
    add("graft_simhash64")(es => graft.pipeline.SimHash64(es.head))
    add("graft_nfc")(es => graft.pipeline.NfcNormalize(es.head))
    add("graft_strip_accents")(es => graft.pipeline.StripAccents(es.head))
    SketchCodec.all.foreach { codec =>
      add(s"graft_${codec.name}_merge_agg")(es => AggregateExpression(SketchMergeAgg(es.head, codec),
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    }
    acc.toSeq
  }
}
