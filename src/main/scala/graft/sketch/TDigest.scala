package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/**
 * Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
 * Quantiles Using t-Digests") — companion quantile sketch. Centroid
 * sizes are bounded by the k1 scale function
 * k(q) = (delta / 2pi) * asin(2q - 1), which concentrates resolution
 * at the tails; rank error is O(1/delta) in the middle and far
 * smaller near q=0/1.
 *
 * Merge = feed the other digest's centroids through the same
 * compression pass — associative at the accuracy level (exact centroid
 * layout is merge-order-dependent, as published).
 */
final class TDigest(
    val compression: Double,
    private var means: ArrayBuffer[Double],
    private var weights: ArrayBuffer[Double],
    private val bufMeans: ArrayBuffer[Double],
    private val bufWeights: ArrayBuffer[Double],
    var totalWeight: Double,
    var min: Double,
    var max: Double) extends Serializable {

  private def bufferLimit: Int = math.max(32, (8 * compression).toInt)

  def update(x: Double, w: Double = 1.0): Unit = {
    bufMeans += x
    bufWeights += w
    totalWeight += w
    if (x < min) min = x
    if (x > max) max = x
    if (bufMeans.length >= bufferLimit) compress()
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression, "t-digest compression mismatch")
    other.compress()
    var i = 0
    while (i < other.means.length) {
      bufMeans += other.means(i)
      bufWeights += other.weights(i)
      i += 1
    }
    totalWeight += other.totalWeight
    if (other.min < min) min = other.min
    if (other.max > max) max = other.max
    compress()
    this
  }

  @inline private def kScale(q: Double): Double =
    compression / (2 * math.Pi) * math.asin(2 * math.min(1.0, math.max(0.0, q)) - 1)

  def compress(): Unit = {
    if (bufMeans.isEmpty) return
    val n = means.length + bufMeans.length
    val ms = new Array[Double](n)
    val ws = new Array[Double](n)
    means.copyToArray(ms); bufMeans.copyToArray(ms, means.length)
    weights.copyToArray(ws); bufWeights.copyToArray(ws, weights.length)
    val order = (0 until n).sortBy(ms(_))
    val outM = ArrayBuffer.empty[Double]
    val outW = ArrayBuffer.empty[Double]
    val total = ws.sum
    var curM = ms(order.head)
    var curW = ws(order.head)
    var wSoFar = 0.0
    var kLeft = kScale(0.0)
    var oi = 1
    while (oi < n) {
      val idx = order(oi)
      val w = ws(idx)
      val q = (wSoFar + curW + w) / total
      if (kScale(q) - kLeft <= 1.0) {
        // merge into current centroid (weighted mean)
        curM = (curM * curW + ms(idx) * w) / (curW + w)
        curW += w
      } else {
        outM += curM; outW += curW
        wSoFar += curW
        kLeft = kScale(wSoFar / total)
        curM = ms(idx); curW = w
      }
      oi += 1
    }
    outM += curM; outW += curW
    means = outM
    weights = outW
    bufMeans.clear()
    bufWeights.clear()
  }

  /** quantile estimate via centroid-midpoint interpolation */
  def quantile(q: Double): Double = {
    compress()
    if (means.isEmpty) return Double.NaN
    if (means.length == 1) return means(0)
    val target = q * totalWeight
    if (target <= weights(0) / 2) return min
    var cum = 0.0
    var i = 0
    var prevMid = 0.0
    var prevMean = min
    while (i < means.length) {
      val mid = cum + weights(i) / 2
      if (target < mid) {
        val frac = if (mid == prevMid) 0.0 else (target - prevMid) / (mid - prevMid)
        return prevMean + frac * (means(i) - prevMean)
      }
      prevMid = mid
      prevMean = means(i)
      cum += weights(i)
      i += 1
    }
    max
  }

  /** approximate CDF at x */
  def cdf(x: Double): Double = {
    compress()
    if (means.isEmpty) return Double.NaN
    if (x <= min) return 0.0
    if (x >= max) return 1.0
    var cum = 0.0
    var prevMid = 0.0
    var prevMean = min
    var i = 0
    while (i < means.length) {
      val mid = cum + weights(i) / 2
      if (x < means(i)) {
        val frac = if (means(i) == prevMean) 0.0 else (x - prevMean) / (means(i) - prevMean)
        return (prevMid + frac * (mid - prevMid)) / totalWeight
      }
      prevMid = mid
      prevMean = means(i)
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def numCentroids: Int = { compress(); means.length }

  def serialize(): Array[Byte] = {
    compress()
    val n = means.length
    val bb = ByteBuffer.allocate(4 + 8 + 8 + 8 + 8 + 4 + 16 * n).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(TDigest.Magic)
    bb.putDouble(compression)
    bb.putDouble(totalWeight)
    bb.putDouble(min)
    bb.putDouble(max)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest extends SketchCodec[TDigest] {
  val name = "tdigest"
  def serialize(s: TDigest): Array[Byte] = s.serialize()
  def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)

  final val Magic = 0x47544447 // "GTDG"

  def create(compression: Double = 100.0): TDigest =
    new TDigest(compression, ArrayBuffer.empty, ArrayBuffer.empty,
      ArrayBuffer.empty, ArrayBuffer.empty, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)

  def deserialize(bytes: Array[Byte]): TDigest = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == Magic, f"bad tdigest magic 0x$magic%08x")
    val comp = bb.getDouble()
    val total = bb.getDouble()
    val mn = bb.getDouble()
    val mx = bb.getDouble()
    val n = bb.getInt()
    val ms = ArrayBuffer.fill(n)(0.0)
    val ws = ArrayBuffer.fill(n)(0.0)
    var i = 0
    while (i < n) { ms(i) = bb.getDouble(); ws(i) = bb.getDouble(); i += 1 }
    new TDigest(comp, ms, ws, ArrayBuffer.empty, ArrayBuffer.empty, total, mn, mx)
  }
}
