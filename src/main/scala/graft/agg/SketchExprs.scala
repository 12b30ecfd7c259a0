package graft.agg

import graft.sketch._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * A serialized sketch held by a broadcast handle: the leaf a probe reads
 * its sketch from when the sketch is a per-call constant (the catalog's
 * snapshots). A `Literal` of the same bytes would make every plan
 * description print the blob as hex (~24M characters for a 6 MB filter,
 * re-formatted at query start and on each AQE re-plan, and retained by
 * the SQL status store) and put a copy in every task binary. This leaf
 * prints as `sketch#<id>(<n> bytes)` and its tasks read the executor's
 * one cached copy. Not foldable, so constant folding never turns it back
 * into a literal.
 */
case class SketchRef(bc: Broadcast[Array[Byte]], bytes: Int) extends LeafExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = bc.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchBc", bc, classOf[Broadcast[_]].getName)
    ev.copy(code = code"final byte[] ${ev.value} = (byte[]) $ref.value();", isNull = FalseLiteral)
  }

  override def toString: String = s"sketch#${bc.id}($bytes bytes)"
}

/**
 * Scalar probe/inspect expressions over serialized sketches — the
 * reference's `check`/`multi` (`csrc/bloomd/conn_handler.c:135-228`)
 * and `info` fields, as Catalyst expressions.
 *
 * Sketches are parsed through their family's codec. Only
 * `BloomFilter.deserialize` wraps the byte array; the scalable and
 * layered blooms copy every layer, and the other families decode into
 * fresh arrays or collections. What keeps the per-row probe cost at
 * hashing + k bit reads is a same-reference memo: while the engine
 * hands over the identical array object (literals, broadcast handles,
 * cached rows), the sketch is parsed once, not once per row.
 */
trait SketchMemo[S <: AnyRef] extends Serializable { // so the codec-taking bases below serialize (see SketchBuildAgg)
  @transient private var lastRef: AnyRef = _
  @transient private var lastSketch: S = _

  protected def codec: SketchCodec[S]

  protected final def sketchOf(raw: Any): S = {
    val bytes = raw.asInstanceOf[Array[Byte]]
    if (bytes ne lastRef) {
      lastSketch = codec.deserialize(bytes)
      lastRef = bytes
    }
    lastSketch
  }
}

/**
 * Probes generate code (not CodegenFallback): a fallback expression
 * forces the WHOLE probe stage out of whole-stage codegen — the stage
 * that filters billions of rows in a batch `multi`/`check`. The
 * generated code calls back into this instance via a reference object
 * (standard Spark pattern), keeping the parse memo and a reusable key
 * buffer so the per-row cost is hash + k bit reads, zero allocation.
 */
abstract class SketchProbe[S <: AnyRef](protected val codec: SketchCodec[S])
    extends BinaryExpression with SketchMemo[S] {
  override def left: Expression // sketch binary
  override def right: Expression // key string

  /** typed probe over (sketch, key bytes [off, off+len)) */
  protected def probe(sketch: S, key: Array[Byte], off: Int, len: Int): Any

  @transient private var keyBuf: Array[Byte] = _

  final def probeAny(sketchBytes: AnyRef, key: UTF8String): Any = {
    val len = key.numBytes()
    if (keyBuf == null || keyBuf.length < len)
      keyBuf = new Array[Byte](math.max(64, java.lang.Integer.highestOneBit(len) * 2))
    key.writeToMemory(keyBuf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    probe(sketchOf(sketchBytes), keyBuf, 0, len)
  }

  final override protected def nullSafeEval(sketch: Any, key: Any): Any =
    probeAny(sketch.asInstanceOf[AnyRef], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("probe", this, classOf[SketchProbe[_]].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (s, k) =>
      s"${ev.value} = ($boxed) $ref.probeAny($s, $k);")
  }
}

/** `check <filter> <key>` -> Yes/No (`sbf.c:89-97`, `bloom.c:141-150`) */
case class BloomContains(left: Expression, right: Expression)
    extends SketchProbe(BloomFilter) {
  override def dataType: DataType = BooleanType
  override protected def probe(s: BloomFilter, key: Array[Byte], off: Int, len: Int): Any =
    s.containsKey(key, off, len)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "bloom_contains"
}

case class SbfContains(left: Expression, right: Expression)
    extends SketchProbe(ScalableBloom) {
  override def dataType: DataType = BooleanType
  override protected def probe(s: ScalableBloom, key: Array[Byte], off: Int, len: Int): Any =
    s.contains(key, off, len)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "sbf_contains"
}

/** Rust-server `check` -> multiplicity count (`src/lbf.rs:74-89`) */
case class LbfCount(left: Expression, right: Expression)
    extends SketchProbe(LayeredBloom) {
  override def dataType: DataType = IntegerType
  override protected def probe(s: LayeredBloom, key: Array[Byte], off: Int, len: Int): Any =
    s.count(key, off, len)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "lbf_count"
}

abstract class SketchInspect[S <: AnyRef](protected val codec: SketchCodec[S])
    extends UnaryExpression with SketchMemo[S] {
  protected def inspect(sketch: S): Any

  final def inspectAny(sketchBytes: AnyRef): Any = inspect(sketchOf(sketchBytes))

  final override protected def nullSafeEval(sketch: Any): Any =
    inspectAny(sketch.asInstanceOf[AnyRef])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("inspect", this, classOf[SketchInspect[_]].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = ($boxed) $ref.inspectAny($s);")
  }
}

/** header count — the reference's `size` info field */
case class BloomCount(child: Expression) extends SketchInspect(BloomFilter) {
  override def dataType: DataType = LongType
  override protected def inspect(s: BloomFilter): Any = s.count
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "bloom_count"
}

/** order-independent fill-ratio cardinality estimate */
case class BloomEstimate(child: Expression) extends SketchInspect(BloomFilter) {
  override def dataType: DataType = LongType
  override protected def inspect(s: BloomFilter): Any = s.estimateItems
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "bloom_estimate"
}

case class SbfSize(child: Expression) extends SketchInspect(ScalableBloom) {
  override def dataType: DataType = LongType
  override protected def inspect(s: ScalableBloom): Any = s.size
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "sbf_size"
}

case class SbfNumLayers(child: Expression) extends SketchInspect(ScalableBloom) {
  override def dataType: DataType = IntegerType
  override protected def inspect(s: ScalableBloom): Any = s.numLayers
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "sbf_num_layers"
}

case class SbfTotalCapacity(child: Expression) extends SketchInspect(ScalableBloom) {
  override def dataType: DataType = LongType
  override protected def inspect(s: ScalableBloom): Any = s.totalCapacity
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "sbf_total_capacity"
}

/** distinct-key count = layer-0 count (`src/lbf.rs:91-98`) */
case class LbfSize(child: Expression) extends SketchInspect(LayeredBloom) {
  override def dataType: DataType = LongType
  override protected def inspect(s: LayeredBloom): Any = s.size
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "lbf_size"
}
