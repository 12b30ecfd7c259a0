package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
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
  * are bit-compatible with a bloomd fed the same key strings. */
abstract class KeyedSketchAgg[T <: AnyRef](codec: SketchCodec[T]) extends SketchBuildAgg[T](codec)
    with UnaryLike[Expression] {

  protected def updateKey(buffer: T, key: Array[Byte], len: Int): Unit

  // reusable key buffer: UTF8String.getBytes would allocate a byte[]
  // per row (columnar scans never hand out exactly-spanning arrays),
  // which at 10^8 rows/agg makes the build GC-bound. One instance of
  // this expression serves one aggregation thread, so a plain var is safe.
  @transient private var scratch: Array[Byte] = _

  final override def update(buffer: T, input: InternalRow): T = {
    val v = child.eval(input)
    if (v != null) {
      val u = v.asInstanceOf[UTF8String]
      val len = u.numBytes()
      if (scratch == null || scratch.length < len)
        scratch = new Array[Byte](math.max(64, java.lang.Integer.highestOneBit(len) * 2))
      u.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      updateKey(buffer, scratch, len)
    }
    buffer
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
