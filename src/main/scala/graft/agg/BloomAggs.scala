package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst-native sketch aggregations (SURVEY.md §2.2, §4): the
 * reference's `set`/`bulk` insert path (`csrc/libbloom/sbf.c:59-81`,
 * `bloom.c:105-133`) becomes partial aggregation (per-partition sketch
 * update) + shuffle of serialized buffers + associative merge, executed
 * by ObjectHashAggregate with sort-based spill fallback — the
 * architecture that scales to 10^12 rows because buffer size is bounded
 * by sketch params, never by data volume.
 *
 * The buffer is the sketch itself. Merge and the buffer and result
 * bytes go through the family's codec, so they are written once here.
 * Serializable because Java serialization rebuilds a task's copy with
 * the no-arg constructor of the first non-serializable ancestor, and
 * this class takes the codec.
 */
abstract class SketchBuildAgg[S <: AnyRef](codec: SketchCodec[S]) extends TypedImperativeAggregate[S]
    with Serializable {
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  final override def merge(a: S, b: S): S = codec.merge(a, b)
  final override def eval(buf: S): Any = codec.serialize(buf)
  final override def serialize(buf: S): Array[Byte] = codec.serialize(buf)
  final override def deserialize(bytes: Array[Byte]): S = codec.deserialize(bytes)
}

/** Sketch aggregates over one string key per row. The GraftFunctions
  * facade casts the key to string; SQL builders wrap with Cast, so
  * `child` is StringType by construction. Keys are the UTF-8 bytes of
  * the input, matching the reference's ASCII wire keys, so estimates
  * are bit-compatible with a bloomd fed the same key strings.
  *
  * [[SketchOverExplode]] may instead hand the aggregate the array that
  * `explode` would have turned into rows. Then each non-null element is
  * one key, in array order: strings by their bytes, integers by the
  * decimal digits `Cast(x AS STRING)` would produce, so the sketch is
  * byte-identical to the exploded build. */
abstract class KeyedSketchAgg[T <: AnyRef](codec: SketchCodec[T]) extends SketchBuildAgg[T](codec)
    with UnaryLike[Expression] {

  protected def updateKey(buffer: T, key: Array[Byte], len: Int): Unit

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case ArrayType(et, _) if KeyedSketchAgg.isKeyElement(et) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a string key or an array of strings or integers, not ${other.catalogString}")
  }

  // reusable key buffer: UTF8String.getBytes would allocate a byte[]
  // per row (columnar scans never hand out exactly-spanning arrays),
  // which at 10^8 rows/agg makes the build GC-bound. One instance of
  // this expression serves one aggregation thread, so a plain var is safe.
  @transient private var scratch: Array[Byte] = _

  /** the element type when the child is an array, null for a string key */
  @transient private lazy val elementType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => null
  }

  final override def update(buffer: T, input: InternalRow): T = {
    val v = child.eval(input)
    if (v != null) {
      if (elementType == null) updateString(buffer, v.asInstanceOf[UTF8String])
      else updateArray(buffer, v.asInstanceOf[ArrayData])
    }
    buffer
  }

  private def reserve(len: Int): Unit =
    if (scratch == null || scratch.length < len)
      scratch = new Array[Byte](math.max(64, java.lang.Integer.highestOneBit(len) * 2))

  private def updateString(buffer: T, u: UTF8String): Unit = {
    val len = u.numBytes()
    reserve(len)
    u.writeToMemory(scratch, Platform.BYTE_ARRAY_OFFSET)
    updateKey(buffer, scratch, len)
  }

  private def updateArray(buffer: T, a: ArrayData): Unit = {
    val n = a.numElements()
    reserve(DecimalKey.MaxLen)
    var i = 0
    elementType match {
      case _: StringType =>
        while (i < n) { if (!a.isNullAt(i)) updateString(buffer, a.getUTF8String(i)); i += 1 }
      case IntegerType =>
        while (i < n) { if (!a.isNullAt(i)) updateKey(buffer, scratch, DecimalKey.write(a.getInt(i), scratch)); i += 1 }
      case LongType =>
        while (i < n) { if (!a.isNullAt(i)) updateKey(buffer, scratch, DecimalKey.write(a.getLong(i), scratch)); i += 1 }
      case ShortType =>
        while (i < n) { if (!a.isNullAt(i)) updateKey(buffer, scratch, DecimalKey.write(a.getShort(i).toInt, scratch)); i += 1 }
      case ByteType =>
        while (i < n) { if (!a.isNullAt(i)) updateKey(buffer, scratch, DecimalKey.write(a.getByte(i).toInt, scratch)); i += 1 }
    }
  }
}

object KeyedSketchAgg {
  /** array elements a keyed sketch takes in place of exploded string keys */
  def isKeyElement(dt: DataType): Boolean = dt match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}

/** Decimal ASCII of an integer, written at the front of a buffer: the
  * bytes `Cast(x AS STRING)` produces, without the String and the
  * UTF8String copy. Two digits per division, in int arithmetic except
  * for the high digits of a long beyond the int range (the
  * `Integer.getChars` technique; works on the negated value so that
  * MinValue needs no special case). */
private[agg] object DecimalKey {
  /** longest output: "-9223372036854775808" */
  val MaxLen = 20

  // "00" "01" ... "99": the two digits of pair p at 2p and 2p + 1
  private val Pairs: Array[Byte] =
    Array.tabulate(200)(i => ('0' + (if (i % 2 == 0) i / 20 else i / 2 % 10)).toByte)

  /** writes v's digits to buf(0 until len) and returns len */
  def write(v: Int, buf: Array[Byte]): Int = {
    val neg = if (v < 0) v else -v
    val len = digits(neg) + (if (v < 0) 1 else 0)
    fill(neg, buf, len)
    if (v < 0) buf(0) = '-'
    len
  }

  def write(v: Long, buf: Array[Byte]): Int = {
    if (v.toInt == v) return write(v.toInt, buf)
    var neg = if (v < 0) v else -v
    val len = digits(neg) + (if (v < 0) 1 else 0)
    var end = len
    while (neg < Int.MinValue) {
      val q = neg / 100
      val r = (q * 100 - neg).toInt * 2
      neg = q
      end -= 2
      buf(end) = Pairs(r)
      buf(end + 1) = Pairs(r + 1)
    }
    fill(neg.toInt, buf, end)
    if (v < 0) buf(0) = '-'
    len
  }

  /** digits of -neg (neg <= 0), ending just before buf(end) */
  private def fill(neg0: Int, buf: Array[Byte], end0: Int): Unit = {
    var neg = neg0
    var end = end0
    while (neg <= -100) {
      val q = neg / 100
      val r = (q * 100 - neg) * 2
      neg = q
      end -= 2
      buf(end) = Pairs(r)
      buf(end + 1) = Pairs(r + 1)
    }
    if (neg <= -10) {
      buf(end - 2) = Pairs(-neg * 2)
      buf(end - 1) = Pairs(-neg * 2 + 1)
    } else buf(end - 1) = ('0' - neg).toByte
  }

  /** number of decimal digits of -neg (neg <= 0) */
  private def digits(neg: Int): Int = {
    var d = 1
    var p = -10
    while (d < 10 && neg <= p) { d += 1; p *= 10 }
    d
  }

  private def digits(neg: Long): Int = {
    var d = 1
    var p = -10L
    while (d < 19 && neg <= p) { d += 1; p *= 10 }
    d
  }
}

/** Fixed-shape partitioned bloom (`create <name> capacity=N prob=P` + bulk). */
case class BloomAgg(
    child: Expression,
    capacity: Long,
    fpProb: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(BloomFilter) {

  private val params = BloomParams.forCapacity(capacity, fpProb)

  override def createAggregationBuffer(): BloomFilter = BloomFilter.create(params)
  override protected def updateKey(buf: BloomFilter, key: Array[Byte], len: Int): Unit = buf.addKey(key, 0, len)

  override def withNewMutableAggBufferOffset(n: Int): BloomAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): BloomAgg = copy(child = c)
  override def prettyName: String = "bloom_agg"
}

/** Scalable bloom with the reference's growth ladder (`sbf.c:197-263`). */
case class SbfAgg(
    child: Expression,
    initialCapacity: Long,
    fpProb: Double,
    scaleSize: Int,
    probReduction: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(ScalableBloom) {

  override def createAggregationBuffer(): ScalableBloom =
    ScalableBloom.create(initialCapacity, fpProb, scaleSize, probReduction)
  override protected def updateKey(buf: ScalableBloom, key: Array[Byte], len: Int): Unit = buf.add(key, 0, len)

  override def withNewMutableAggBufferOffset(n: Int): SbfAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SbfAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): SbfAgg = copy(child = c)
  override def prettyName: String = "sbf_agg"
}

/** Layered (counting) bloom — the Rust server's per-filter structure.
  *
  * The layered filter is a SMALL-COUNT structure: one layer per repeat
  * of a key (`src/lbf.rs`), so insert cost and blob size are O(max
  * multiplicity). `maxCount` enforces that regime IN the operator:
  * repeats beyond it are skipped (the count check is O(current count),
  * bounded by the cap). The default 5 matches the Rust server's own
  * test regime (~3); pass 0 to uncap when true multiplicities are
  * known small. Without the cap, a 10^3-multiplicity corpus means
  * thousands of layers and a 300 s build — measured, not theoretical.
  * OR-merge of capped partials never exceeds the cap (count = layers
  * containing the key; OR can't add layers beyond either side's).
  * NOTE the deliberate divergence from the WIRE path: the Rust
  * server's `set` counts uncapped (its per-command cost is one key),
  * so 8 wire sets report 8 while a default lbf_agg build of the same
  * rows reports 5 — pass maxCount = 0 when wire parity matters and
  * the multiplicity domain is known small. */
case class LbfAgg(
    child: Expression,
    capacity: Long,
    fpProb: Double,
    maxCount: Long = 5L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KeyedSketchAgg(LayeredBloom) {

  override def createAggregationBuffer(): LayeredBloom = LayeredBloom.create(capacity, fpProb)
  override protected def updateKey(buf: LayeredBloom, key: Array[Byte], len: Int): Unit =
    buf.addCapped(key, 0, len, maxCount) // one hash pass: count + cap + insert

  override def withNewMutableAggBufferOffset(n: Int): LbfAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LbfAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): LbfAgg = copy(child = c)
  override def prettyName: String = "lbf_agg"
}
