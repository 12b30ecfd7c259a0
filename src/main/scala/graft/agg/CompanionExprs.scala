package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** distinct-count estimate from a serialized HLL */
case class HllEstimate(child: Expression) extends SketchInspect(Hll) {
  override def dataType: DataType = LongType
  override protected def inspect(s: Hll): Any = s.estimate
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "hll_estimate"
}

/** frequency upper-estimate from a serialized CMS */
case class CmsEstimate(left: Expression, right: Expression)
    extends SketchProbe(CountMin) {
  override def dataType: DataType = LongType
  override protected def probe(s: CountMin, key: Array[Byte], off: Int, len: Int): Any =
    s.estimate(key, off, len)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "cms_estimate"
}

case class CmsTotal(child: Expression) extends SketchInspect(CountMin) {
  override def dataType: DataType = LongType
  override protected def inspect(s: CountMin): Any = s.total
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "cms_total"
}

abstract class DoubleArgSketchExpr[S <: AnyRef](protected val codec: SketchCodec[S])
    extends BinaryExpression with SketchMemo[S] {
  protected def compute(sketch: S, x: Double): Any

  final def computeAny(sketchBytes: AnyRef, x: Double): Any =
    compute(sketchOf(sketchBytes), x)

  final override protected def nullSafeEval(sketch: Any, x: Any): Any =
    computeAny(sketch.asInstanceOf[AnyRef], x.asInstanceOf[Double])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("expr", this, classOf[DoubleArgSketchExpr[_]].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (s, x) => s"${ev.value} = ($boxed) $ref.computeAny($s, $x);")
  }
}

case class TDigestQuantile(left: Expression, right: Expression)
    extends DoubleArgSketchExpr(TDigest) {
  override def dataType: DataType = DoubleType
  override protected def compute(s: TDigest, q: Double): Any = s.quantile(q)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "tdigest_quantile"
}

case class TDigestCdf(left: Expression, right: Expression)
    extends DoubleArgSketchExpr(TDigest) {
  override def dataType: DataType = DoubleType
  override protected def compute(s: TDigest, x: Double): Any = s.cdf(x)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "tdigest_cdf"
}

case class KllQuantile(left: Expression, right: Expression)
    extends DoubleArgSketchExpr(Kll) {
  override def dataType: DataType = DoubleType
  override protected def compute(s: Kll, q: Double): Any = s.quantile(q)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "kll_quantile"
}

case class KllRank(left: Expression, right: Expression)
    extends DoubleArgSketchExpr(Kll) {
  override def dataType: DataType = DoubleType
  override protected def compute(s: Kll, x: Double): Any = s.rank(x)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "kll_rank"
}

case class KllN(child: Expression) extends SketchInspect(Kll) {
  override def dataType: DataType = LongType
  override protected def inspect(s: Kll): Any = s.n
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "kll_n"
}

/** Misra–Gries lower estimate: 0 for untracked keys. Guarantee:
  * estimate <= true <= estimate + freq_error (FrequentItems scaladoc). */
case class FreqEstimate(left: Expression, right: Expression)
    extends SketchProbe(FrequentItems) {
  override def dataType: DataType = LongType
  override protected def probe(s: FrequentItems, key: Array[Byte], off: Int, len: Int): Any =
    s.estimate(new String(key, off, len, java.nio.charset.StandardCharsets.UTF_8))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "freq_estimate"
}

/** The summary's tracked per-item undercount bound (<= n/(k+1)). */
case class FreqError(child: Expression) extends SketchInspect(FrequentItems) {
  override def dataType: DataType = LongType
  override protected def inspect(s: FrequentItems): Any = s.error
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "freq_error"
}

case class FreqTotal(child: Expression) extends SketchInspect(FrequentItems) {
  override def dataType: DataType = LongType
  override protected def inspect(s: FrequentItems): Any = s.total
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "freq_total"
}

case class FreqNumTracked(child: Expression) extends SketchInspect(FrequentItems) {
  override def dataType: DataType = IntegerType
  override protected def inspect(s: FrequentItems): Any = s.numTracked
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "freq_num_tracked"
}

/** the ranked rows of a serialized TopK: array<struct<score, item>>,
  * best-first under the sketch's (score DESC, item ASC) order */
case class TopKItems(child: Expression) extends SketchInspect(TopK) {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", LongType, nullable = false),
      StructField("item", StringType, nullable = false))),
    containsNull = false)
  override protected def inspect(s: TopK): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      s.result.map { case (sc, it) =>
        org.apache.spark.sql.catalyst.InternalRow(sc, UTF8String.fromString(it))
      })
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "topk_items"
}

/** distinct estimate from a serialized KMV bottom-k sketch (exact
  * below capacity, (k-1)/U_k above — `Kmv.estimate`) */
case class KmvEstimate(child: Expression) extends SketchInspect(Kmv) {
  override def dataType: DataType = LongType
  override protected def inspect(s: Kmv): Any = s.estimate
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "kmv_estimate"
}

/** two-sketch KMV combiner (set operations are cross-sketch, unlike
  * every other inspector): deserializes both sides per row — fine at
  * catalog cardinality, where these rows live. */
abstract class KmvPairExpr extends BinaryExpression {
  protected def compute(a: Kmv, b: Kmv): Any

  private def kmv(raw: AnyRef): Kmv = Kmv.deserialize(raw.asInstanceOf[Array[Byte]])

  final def computeAny(a: AnyRef, b: AnyRef): Any = compute(kmv(a), kmv(b))

  final override protected def nullSafeEval(a: Any, b: Any): Any =
    computeAny(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("expr", this, classOf[KmvPairExpr].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = ($boxed) $ref.computeAny($a, $b);")
  }
}

/** |A ∪ B| estimate: merge-then-trim union (Beyer et al. 2007) */
case class KmvUnionEstimate(left: Expression, right: Expression) extends KmvPairExpr {
  override def dataType: DataType = LongType
  override protected def compute(a: Kmv, b: Kmv): Any = Kmv.union(a, b).estimate
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "kmv_union_estimate"
}

/** count of the union's bottom-k present in BOTH sketches — the
  * numerator of the Jaccard estimate shared/min(k, |union sample|) */
case class KmvSharedInUnion(left: Expression, right: Expression) extends KmvPairExpr {
  override def dataType: DataType = IntegerType
  override protected def compute(a: Kmv, b: Kmv): Any = Kmv.sharedInUnion(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "kmv_shared_in_union"
}
