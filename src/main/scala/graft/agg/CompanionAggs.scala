package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.unsafe.types.UTF8String

/** HLL distinct-count aggregate over string keys. */
case class HllAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(Hll) {

  override def createAggregationBuffer(): Hll = Hll.create(precision)
  override protected def updateKey(buf: Hll, key: Array[Byte], len: Int): Unit = buf.update(key, 0, len)
  override def withNewMutableAggBufferOffset(n: Int): HllAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): HllAgg = copy(child = c)
  override def prettyName: String = "hll_agg"
}

/** Count-Min frequency aggregate over string keys. */
case class CmsAgg(
    child: Expression,
    eps: Double,
    delta: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(CountMin) {

  override def createAggregationBuffer(): CountMin = CountMin.forGuarantee(eps, delta)
  override protected def updateKey(buf: CountMin, key: Array[Byte], len: Int): Unit = buf.update(key, 0, len, 1L)
  override def withNewMutableAggBufferOffset(n: Int): CmsAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CmsAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): CmsAgg = copy(child = c)
  override def prettyName: String = "cms_agg"
}

/** Misra–Gries frequent-items aggregate over string keys. Merge order
  * under partial aggregation follows task completion, so downstream
  * assertions must use the guarantee (est <= true <= est + error,
  * error <= n/(k+1)) — deterministic under ANY merge tree — not raw
  * counter values (see FrequentItems scaladoc). */
case class FreqAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(FrequentItems) {

  override def createAggregationBuffer(): FrequentItems = FrequentItems.create(k)
  override protected def updateKey(buf: FrequentItems, key: Array[Byte], len: Int): Unit =
    buf.update(new String(key, 0, len, java.nio.charset.StandardCharsets.UTF_8))
  override def withNewMutableAggBufferOffset(n: Int): FreqAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FreqAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): FreqAgg = copy(child = c)
  override def prettyName: String = "freq_agg"
}

/** KMV bottom-k distinct sketch over string keys (supports set-op
  * estimates — see [[graft.sketch.Kmv]]). Fully deterministic: any
  * merge tree yields the same k minimum hashes. */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(Kmv) {

  override def createAggregationBuffer(): Kmv = Kmv.create(k)
  override protected def updateKey(buf: Kmv, key: Array[Byte], len: Int): Unit =
    buf.add(key, len)
  override def withNewMutableAggBufferOffset(n: Int): KmvAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): KmvAgg = copy(child = c)
  override def prettyName: String = "kmv_agg"
}

/** Numeric sketch aggregates share double-input handling. */
abstract class DoubleSketchAgg[T <: AnyRef](codec: SketchCodec[T]) extends SketchBuildAgg[T](codec)
    with UnaryLike[Expression] {
  protected def updateValue(buffer: T, v: Double): Unit

  final override def update(buffer: T, input: InternalRow): T = {
    val v = child.eval(input)
    if (v != null) updateValue(buffer, v.asInstanceOf[Double])
    buffer
  }
}

/** t-digest quantile aggregate over doubles. */
case class TDigestAgg(
    child: Expression,
    compression: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends DoubleSketchAgg(TDigest) {

  override def createAggregationBuffer(): TDigest = TDigest.create(compression)
  override protected def updateValue(buf: TDigest, v: Double): Unit = buf.update(v)
  override def withNewMutableAggBufferOffset(n: Int): TDigestAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): TDigestAgg = copy(child = c)
  override def prettyName: String = "tdigest_agg"
}

/** KLL quantile aggregate over doubles. */
case class KllAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends DoubleSketchAgg(Kll) {

  override def createAggregationBuffer(): Kll = Kll.create(k)
  override protected def updateValue(buf: Kll, v: Double): Unit = buf.update(v)
  override def withNewMutableAggBufferOffset(n: Int): KllAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): KllAgg = copy(child = c)
  override def prettyName: String = "kll_agg"
}

/**
 * Exact bounded top-k rows by an explicit score (score DESC, item ASC
 * — deterministic, SQL-replayable). Two children: the score (long)
 * and the item (string). Partial aggregation keeps k rows per
 * partition; the exchange carries k-sized serialized buffers, never
 * the group's rows — the scalable replacement for sort+window
 * "top-k per group".
 */
case class TopKAgg(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchBuildAgg(TopK)
    with BinaryLike[Expression] {

  override def createAggregationBuffer(): TopK = TopK.create(k)
  override def update(buf: TopK, input: InternalRow): TopK = {
    val s = left.eval(input)
    val it = right.eval(input)
    if (s != null && it != null)
      buf.add(s.asInstanceOf[Long], it.asInstanceOf[UTF8String].toString)
    buf
  }
  override def withNewMutableAggBufferOffset(n: Int): TopKAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKAgg =
    copy(left = l, right = r)
  override def prettyName: String = "topk_agg"
}
