package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * DSIR-style target-affinity selection: hand-computed votes on a
 * controlled two-vocabulary corpus, partitioning invariance, and the
 * broadcast plan shape (the model must never shuffle the pool).
 */
class SelectionSpec extends AnyFunSuite with SharedSpark {

  /** corpus: 10 identical target docs over vocabulary A, 2 pool docs
    * over A (target-affine), 8 pool docs over disjoint vocabulary B.
    * Per-gram model: A-grams t_b=10 s_b=2, B-grams t_b=0 s_b=8;
    * NT=30, NS=30 -> A votes +1 (300>60), B votes -1 (0<240). */
  private val aText = "alpha beta gamma delta"
  private val bText = "omega sigma tau rho"

  private def corpus() = {
    import spark.implicits._
    val target = (0 until 10).map(i => (i.toLong, "tgt", aText))
    val poolA = Seq((100L, "pool", aText), (101L, "pool", aText))
    val poolB = (110 until 118).map(i => (i.toLong, "pool", bText))
    (target ++ poolA ++ poolB).toDF("doc_id", "source", "text")
  }

  /** the six grams must land in six distinct md5 buckets for the
    * hand-computed expectation to hold — assert, don't hope. */
  test("precondition: test vocabulary grams hit distinct buckets") {
    val grams = Seq("alpha beta", "beta gamma", "gamma delta",
      "omega sigma", "sigma tau", "tau rho")
    val buckets = grams.map { g =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      Integer.parseInt(d.take(2).map("%02x".format(_)).mkString.take(3), 16)
    }
    assert(buckets.distinct.size == grams.size, s"bucket collision: $buckets")
  }

  test("golden votes: affine pool docs keep, disjoint pool docs drop") {
    val out = Selection.targetAffinity(corpus(), "tgt")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val expected =
      Seq((100L, 3L, 3L, true), (101L, 3L, 3L, true)) ++
        (110 until 118).map(i => (i.toLong, 3L, -3L, false))
    assert(out.toSeq == expected)
    // target docs are never scored
    assert(!out.exists(_._1 < 100))
  }

  test("ties vote 0: a gram proportionally represented in both sides") {
    import spark.implicits._
    // 2 target docs and 2 pool docs share one gram: t_b=2, s_b=2,
    // NT=2, NS=2 -> 2*2 == 2*2 -> vote 0, score 0, keep=false
    val df = Seq(
      (0L, "tgt", "x y"), (1L, "tgt", "x y"),
      (10L, "pool", "x y"), (11L, "pool", "x y")).toDF("doc_id", "source", "text")
    val out = Selection.targetAffinity(df, "tgt").orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSeq ==
      Seq((10L, 0L, false), (11L, 0L, false)))
  }

  test("short documents (< n words) are not scored") {
    import spark.implicits._
    val df = corpus().unionByName(
      Seq((200L, "pool", "solo")).toDF("doc_id", "source", "text"))
    val out = Selection.targetAffinity(df, "tgt")
    assert(out.filter(col("doc_id") === 200L).count() == 0)
  }

  test("result is invariant under input partitioning") {
    val base = Selection.targetAffinity(corpus(), "tgt")
      .orderBy("doc_id").collect().toSeq
    val repart = Selection.targetAffinity(corpus().repartition(7), "tgt")
      .orderBy("doc_id").collect().toSeq
    assert(base == repart)
  }

  test("plan shape: the model joins broadcast; no sort-merge join") {
    val plan = Selection.targetAffinity(corpus(), "tgt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"model/totals must not shuffle the pool:\n$plan")
  }
}
