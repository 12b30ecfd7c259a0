package graft.sketch

/**
 * The wire format and merge of one sketch family, implemented by the
 * family's companion object. Aggregates, rollups and probes read and
 * write sketches only through this, so each family states its format
 * and merge once. `merge` may consume either argument (the in-place
 * merges adopt and mutate buffers) and returns the merged sketch.
 */
trait SketchCodec[S <: AnyRef] extends Serializable {
  /** family name: `<name>_agg`, `<name>_merge_agg` */
  def name: String
  def deserialize(bytes: Array[Byte]): S
  def serialize(s: S): Array[Byte]
  def merge(a: S, b: S): S
}

object SketchCodec {
  val all: Seq[SketchCodec[_ <: AnyRef]] =
    Seq(BloomFilter, ScalableBloom, LayeredBloom, Hll, CountMin, FrequentItems, TDigest, Kll, Kmv, TopK)
}
