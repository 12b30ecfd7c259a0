package graft.agg

import graft.sketch.SketchCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/**
 * Merge-aggregate: fold a column of SERIALIZED sketches of one family
 * into one sketch, through the family's codec. This is the sketch
 * library's rollup operator — re-aggregate a sketch table to coarser
 * grain (per-source -> global, per-day -> per-month) without touching
 * raw data — and the final-merge step of the resumable build
 * (SketchBuildJob): per-partition checkpoint sketches are folded back
 * into the result with exactly the same associative merge the
 * in-flight aggregation uses.
 *
 * Buffer is a nullable holder: the first input fixes the parameters
 * (all inputs must share them — same contract as the reference's
 * layer merge).
 */
case class SketchMergeAgg[S <: AnyRef](
    child: Expression,
    codec: SketchCodec[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[SketchMergeAgg.Holder[S]]
    with UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): SketchMergeAgg.Holder[S] =
    new SketchMergeAgg.Holder[S](null.asInstanceOf[S])

  override def update(buf: SketchMergeAgg.Holder[S], input: InternalRow): SketchMergeAgg.Holder[S] = {
    val v = child.eval(input)
    if (v != null) {
      val s = codec.deserialize(v.asInstanceOf[Array[Byte]])
      buf.s = if (buf.s == null) s else codec.merge(buf.s, s)
    }
    buf
  }

  override def merge(a: SketchMergeAgg.Holder[S], b: SketchMergeAgg.Holder[S]): SketchMergeAgg.Holder[S] = {
    if (b.s != null) a.s = if (a.s == null) b.s else codec.merge(a.s, b.s)
    a
  }

  override def eval(buf: SketchMergeAgg.Holder[S]): Any =
    if (buf.s == null) null else codec.serialize(buf.s)

  override def serialize(buf: SketchMergeAgg.Holder[S]): Array[Byte] =
    if (buf.s == null) Array.emptyByteArray else codec.serialize(buf.s)

  override def deserialize(bytes: Array[Byte]): SketchMergeAgg.Holder[S] =
    new SketchMergeAgg.Holder[S](if (bytes.isEmpty) null.asInstanceOf[S] else codec.deserialize(bytes))

  override def withNewMutableAggBufferOffset(n: Int): SketchMergeAgg[S] = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchMergeAgg[S] = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): SketchMergeAgg[S] = copy(child = c)
  override def prettyName: String = s"${codec.name}_merge_agg"
  // prettyName already names the family; plans print `hll_merge_agg(s#1, 0, 0)`
  override protected def stringArgs: Iterator[Any] = Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
}

object SketchMergeAgg {
  final class Holder[S](var s: S) extends Serializable
}
