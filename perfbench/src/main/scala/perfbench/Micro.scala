package perfbench

import graft.hash.{BloomHash, Murmur3x64, Spooky}
import graft.sketch.{BloomFilter, Hll, ScalableBloom}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Single-thread replays of a fixed key sample through the hash and
 * sketch layers: the per-key cost each layer adds, measured apart from
 * Spark and the wire. Each figure is the median of five passes.
 */
object Micro {

  private def nsPerKey(keys: Array[Array[Byte]])(f: Array[Byte] => Unit): Double =
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < keys.length) { f(keys(i)); i += 1 }
      (System.nanoTime() - t0).toDouble / keys.length
    })

  private def msOf(f: => Unit): Double =
    Stats.median((0 until 5).map(_ => Leg.timed(f) * 1e3))

  /** Like nsPerKey, on a fresh `target` for each pass (for inserts). */
  private def nsPerKeyFresh[T](passes: Int, keys: Array[Array[Byte]])(target: => T)(f: (T, Array[Byte]) => Unit): Double =
    Stats.median((0 until passes).map { _ =>
      val t = target
      val t0 = System.nanoTime()
      var i = 0
      while (i < keys.length) { f(t, keys(i)); i += 1 }
      (System.nanoTime() - t0).toDouble / keys.length
    })

  def hash(keys: Array[Array[Byte]]): Seq[(String, Double, String)] = {
    val hs = new Array[Long](13)
    var sink = 0L
    val out = Seq(
      ("hash.bloom_ns_per_key", nsPerKey(keys) { k => BloomHash.computeHashes(13, k, 0, k.length, hs); sink += hs(12) }, "ns"),
      ("hash.murmur_ns_per_key", nsPerKey(keys) { k => Murmur3x64.hash128(k, 0, k.length, 0L, hs); sink += hs(1) }, "ns"),
      ("hash.spooky_ns_per_key", nsPerKey(keys) { k => Spooky.hash128(k, 0, k.length, 0L, 0L, hs); sink += hs(1) }, "ns"))
    if (sink == 42) System.err.print("")
    out
  }

  /** Small-filter costs at the build parameters and large-filter costs at
    * the catalog_bulk filter size, whose filled filter is `bulk`. */
  def sketch(tokens: Array[Array[Byte]], bulkCapacity: Long, bulk: ScalableBloom): Seq[(String, Double, String)] = {
    var sink = 0L
    val bloomAdd = nsPerKeyFresh(5, tokens)(BloomFilter.create(Gen.BloomCapacity, Gen.BloomProb))((f, k) => f.addKey(k))
    val small = BloomFilter.create(Gen.BloomCapacity, Gen.BloomProb)
    tokens.foreach(k => small.addKey(k))
    val bloomContains = nsPerKey(tokens)(k => if (small.containsKey(k, 0, k.length)) sink += 1)
    val hll = Hll.create(Gen.HllPrecision)
    val hllUpdate = nsPerKey(tokens)(k => hll.update(k))

    val n = 500000
    val ins = Array.tabulate(n)(i => s"micro-in-$i".getBytes(UTF_8))
    val miss = Array.tabulate(n)(i => s"micro-out-$i".getBytes(UTF_8))
    def fresh(): ScalableBloom = ScalableBloom.create(bulkCapacity, 1e-4).materialize()
    val sbfAdd = nsPerKeyFresh(3, ins)(fresh())((f, k) => f.add(k))
    val big = fresh()
    ins.foreach(k => big.add(k))
    val hit = nsPerKey(ins)(k => if (big.contains(k)) sink += 1)
    val missNs = nsPerKey(miss)(k => if (big.contains(k)) sink += 1)
    val blob = bulk.serialize()
    val ser = msOf(bulk.serialize())
    val de = msOf(ScalableBloom.deserialize(blob))
    val merge = Stats.median((0 until 5).map { _ =>
      val (a, b) = (big.copySketch(), big.copySketch())
      Leg.timed(a.mergeInPlace(b)) * 1e3
    })
    if (sink == 42) System.err.print("")
    Seq(("sketch.bloom_add_ns", bloomAdd, "ns"), ("sketch.bloom_contains_ns", bloomContains, "ns"),
      ("sketch.hll_update_ns", hllUpdate, "ns"), ("sketch.sbf_add_ns", sbfAdd, "ns"),
      ("sketch.sbf_contains_hit_ns", hit, "ns"), ("sketch.sbf_contains_miss_ns", missNs, "ns"),
      ("sketch.sbf_serialize_ms", ser, "ms"), ("sketch.sbf_deserialize_ms", de, "ms"),
      ("sketch.sbf_merge_ms", merge, "ms"))
  }
}
