package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The cell-pruned exact cosine join must return EXACTLY the all-pairs
 * result (pruning only removes provably-below-threshold cell pairs);
 * the capped n-gram Jaccard must compute J over the surviving
 * universe on both sides.
 */
class DedupParitySpec extends AnyFunSuite with SharedSpark {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def allPairsReference(minCos: Double) = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(VecFunctions.vec_dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", VecFunctions.vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  test("cell-pruned cosinePairs equals the all-pairs join at several thresholds") {
    for (t <- Seq(0.35, 0.44, 0.5)) {
      val pruned = Dedup.cosinePairs(emb, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = allPairsReference(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pruned == full, s"threshold $t")
      assert(full.nonEmpty || t > 0.45) // the gate thresholds are non-trivial
    }
  }

  test("LSH-mode cosine dedup finds all planted near-dups at a production threshold") {
    // plant near-dups: each corpus vector plus a deterministically
    // perturbed copy (cos ~ 0.9999) under vec_id + 10000
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("v"), x => x * 1.0001 + 0.001).as("v"))
    val corpus = base.union(planted).select(col("vec_id"), col("v").as("embedding"))
    val n = base.count()
    val lsh = Dedup.cosinePairsLsh(corpus, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair found (recall 1 at this threshold)...
    (0L until n).foreach(i => assert(lsh.contains((i, i + 10000)), s"missing planted pair $i"))
    // ...and LSH-mode equals the exact cell-pruned operator here
    val exact = Dedup.cosinePairs(corpus.toDF(), minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("cosinePairs verify exchange keys on (cell, salt): >= 64 cells, no narrow join keys") {
    val (plan, assigned) = Dedup.cosinePairsPlan(emb, minCos = 0.44)
    try {
      // auto nCells: sqrt(N) clamped to >= 64 — the join key space is
      // cells x saltParts, never a handful of hot cells
      val cells = assigned.select(col("cell")).distinct().count()
      val sqlPlan = plan.queryExecution.executedPlan.toString
      // the verify join's shuffle keys include the salt column (so a
      // single hot cell spreads over saltParts partitions)
      assert(sqlPlan.contains("salt"), s"no salted exchange in plan:\n$sqlPlan")
      // key-space width at gate scale: occupied cells x 8 salts >= 32
      assert(cells * 8 >= 32, s"only $cells occupied cells")
      // and the plan still produces the exact all-pairs answer
      val got = plan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = allPairsReference(0.44).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally assigned.unpersist()
  }

  test("capped Jaccard computes J over the surviving universe (no na/nb bias)") {
    import spark.implicits._
    // d1/d2 share the hot shingle plus all rare ones; cap removes the
    // hot shingle from BOTH the intersection and the per-doc counts
    val docs = Seq(
      (1L, "hot hot2 hot3 r1a r1b r1c r1d r1e"),
      (2L, "hot hot2 hot3 r1a r1b r1c r1d r1x"),
      (3L, "hot hot2 hot3 z1 z2 z3 z4 z5"),
      (4L, "hot hot2 hot3 y1 y2 y3 y4 y5"),
      (5L, "hot hot2 hot3 w1 w2 w3 w4 w5")
    ).toDF("doc_id", "text")
    // trigram shingles: "hot hot2 hot3" appears in all 5 docs
    val capped = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.2, maxShingleDocs = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc1: 6 shingles, minus the hot one -> 5 surviving; doc2 same;
    // surviving intersection = 3 ("hot2 hot3 r1a", "hot3 r1a r1b" is
    // doc-dependent... compute expected from the definition instead
    val sh = docs.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.words(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val hot = sh.values.flatten.groupBy(identity).collect {
      case (g, occ) if occ.size > 4 => g
    }.toSet
    val surv = sh.map { case (id, s) => id -> (s -- hot) }
    val expected = (for {
      a <- surv.keys; b <- surv.keys if a < b
      inter = (surv(a) & surv(b)).size
      j = inter.toDouble / (surv(a).size + surv(b).size - inter)
      if j >= 0.2
    } yield (a, b) -> (math.round(j * 1e6) / 1e6)).toMap
    assert(capped == expected)
  }

  test("dedupAgainst: corpus matches, new-new chain suppression, corpus-internal pairs ignored") {
    import spark.implicits._
    val x = "alpha beta gamma delta epsilon zeta eta theta"
    val y = "omega psi chi phi upsilon tau sigma rho"
    // corpus: ids 1..10 all text x (a corpus-INTERNAL dup cluster that
    // must not appear in the output), id 20 text y
    val corpus = ((1 to 10).map(i => (i.toLong, x)) :+ (20L, y))
      .toDF("doc_id", "text")
    // new: 101 copies x (matches all 10 corpus docs), 102 copies x
    // (matches corpus AND lower-id new 101), 103 fresh text
    val fresh = Seq(
      (101L, x), (102L, x),
      (103L, "kappa lambda mu nu xi omicron pi iota")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(fresh, corpus, minJ = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (101L, 10L, 0L, false),
      (102L, 10L, 1L, false),
      (103L, 0L, 0L, true)))
  }

  test("boilerplateDedup removes EVERY copy past the df threshold; spanDedup keeps the first") {
    import spark.implicits._
    // "nav bar" block in docs 0..4 (df=5 > 3); doc 5 repeats its own
    // unique block twice (df=1: within-doc repetition is NOT boilerplate)
    val nav = "home about contact legal privacy"
    val docs = ((0L to 4L).map(i => (i, s"$nav unique$i word$i filler$i pad$i end$i")) :+
      (5L, "only half percent basis point only half percent basis point")).toDF("doc_id", "text")
    val boiler = Dedup.boilerplateDedup(docs, w = 5, maxDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3)))
    // nav block gone from ALL five docs, tails survive
    for (i <- 0 to 4)
      assert(boiler(i) == (i.toLong, 1, s"unique$i word$i filler$i pad$i end$i"))
    // within-doc repeat survives boilerplate (df=1)...
    assert(boiler(5) == (5L, 0,
      "only half percent basis point only half percent basis point"))
    // ...but spanDedup's first-wins policy drops the second copy, and
    // keeps the FIRST nav copy that boilerplate removed
    val span = Dedup.spanDedup(docs, w = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3)))
    assert(span(0) == (0L, 0, s"$nav unique0 word0 filler0 pad0 end0"))
    assert(span(5) == (5L, 1, "only half percent basis point"))
  }
}
