package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * SemDeDup contract: planted near-identical twins are pruned to one
 * representative (the smaller vec_id) whenever the quantizer
 * co-locates them — and it co-locates essentially all of them, since
 * a twin is a tiny perturbation; the gate's soundness/completeness
 * booleans hold; two runs are identical (deterministic quantizer).
 */
class SemanticSpec extends AnyFunSuite with SharedSpark {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def withTwins = {
    val planted = emb.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(embedding, x -> x * 1.0001f + 0.001f)").as("embedding"))
    emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(planted)
  }

  test("planted twins prune to the smaller id when co-located") {
    val verdict = Semantic.semDedup(withTwins, minCos = 0.99, nCells = 8)
      .select("vec_id", "cell", "rep", "keep").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    val baseIds = verdict.keys.filter(_ < 100000L)
    val coLocated = baseIds.filter(id => verdict(id)._1 == verdict(id + 100000L)._1)
    assert(coLocated.size.toDouble / baseIds.size >= 0.9,
      s"quantizer should co-locate nearly all twins: ${coLocated.size}/${baseIds.size}")
    for (id <- coLocated) {
      val (_, repA, keepA) = verdict(id)
      val (_, repB, keepB) = verdict(id + 100000L)
      assert(keepA && !keepB, s"twin pair $id: keep must favor the smaller id")
      assert(repA == id && repB <= id,
        s"twin pair $id: rep must be the kept representative")
    }
  }

  test("gate booleans hold and counts match an independent recompute") {
    val row = Semantic.semDedupGate(emb, minCos = 0.44, nCells = 8).head()
    assert(row.getAs[Boolean]("sound_ok"))
    assert(row.getAs[Boolean]("complete_ok"))
    assert(row.getAs[Long]("n_emb") == emb.count())
    val exact = Dedup.cosinePairs(emb, minCos = 0.44).count()
    assert(row.getAs[Long]("n_exact_pairs") == exact)
  }

  test("deterministic across runs") {
    def run() = Semantic.semDedup(emb, minCos = 0.44, nCells = 8)
      .collect().map(_.toSeq).toSet
    assert(run() == run())
  }
}
