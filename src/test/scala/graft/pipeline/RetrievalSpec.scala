package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * BM25 contract: scores equal a scalar re-derivation of the Lucene
 * formula (computed here in plain Scala, not Spark SQL — an
 * independent code path), query terms are set-semantics, `maxDf`
 * drops stop terms from scoring on both sides of the contract, and
 * the executed plan is the scale shape: broadcast joins on the query
 * side + a map-side WindowGroupLimit capping the rank exchange.
 */
class RetrievalSpec extends AnyFunSuite with SharedSpark {

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, "a b a c"),
      (1L, "a b b"),
      (2L, "c c c c c c"),
      (3L, "a d")
    ).toDF("doc_id", "text")
  }

  private def query(terms: Seq[String]) = {
    import spark.implicits._
    Seq((0L, terms)).toDF("q_id", "terms")
  }

  /** Scalar reference: same formula, plain JVM doubles. */
  private def refScore(tfDf: Seq[(Int, Int, Int)], // (tf, df, dl) per matched term
                       n: Long, totalLen: Long,
                       k1: Double = 1.2, b: Double = 0.75): Long = {
    val avgdl = totalLen.toDouble / n
    tfDf.map { case (tf, df, dl) =>
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      math.round(idf * tfn * 1e6)
    }.sum
  }

  test("scores match an independent scalar derivation") {
    val out = Retrieval.bm25(corpus, query(Seq("a", "c")), k = 10)
      .orderBy("rank")
      .select("doc_id", "score_micros")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // N=4, total_len=15; df: a=3, c=2
    val exp = Map(
      0L -> refScore(Seq((2, 3, 4), (1, 2, 4)), 4, 15), // a tf2, c tf1
      1L -> refScore(Seq((1, 3, 3)), 4, 15),            // a only
      2L -> refScore(Seq((6, 2, 6)), 4, 15),            // c only
      3L -> refScore(Seq((1, 3, 2)), 4, 15))            // a only
    assert(out.toMap == exp)
    // every matched doc present, ranked by score desc then doc_id
    val byScore = out.sortBy { case (id, s) => (-s, id) }
    assert(out.toSeq == byScore.toSeq, "rank order must be (score desc, doc_id)")
  }

  test("query terms are set semantics: duplicates count once") {
    val a = Retrieval.bm25(corpus, query(Seq("a", "c")), k = 10).collect().toSet
    val b = Retrieval.bm25(corpus, query(Seq("a", "a", "c", "a")), k = 10).collect().toSet
    assert(a == b)
  }

  test("maxDf drops stop terms from scoring") {
    // df(a)=3 > 2, so only 'c' scores; docs 1 and 3 (no c) drop out
    val out = Retrieval.bm25(corpus, query(Seq("a", "c")), k = 10, maxDf = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 2L))
  }

  test("k caps results per query") {
    val out = Retrieval.bm25(corpus, query(Seq("a", "c")), k = 2).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Int]("rank")).toSet == Set(1, 2))
  }

  test("incrementally merged index scores bitwise-identically to a full rebuild") {
    val full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val old = full.filter(col("doc_id") % 3 =!= 0)
    val delta = full.filter(col("doc_id") % 3 === 0)
    val qs = query(Seq("scan", "merge", "dup"))
    val mergedIdx = Retrieval.mergeIndex(Retrieval.invertedIndex(old), delta)
    def statsOf(d: org.apache.spark.sql.DataFrame) = {
      val i = Retrieval.invertedIndex(d)
      Retrieval.termStats(i).crossJoin(broadcast(Retrieval.corpusStats(i)))
    }
    val mergedStats = Retrieval.mergeStats(statsOf(old), statsOf(delta))
    val viaMerge = Retrieval.bm25FromIndex(mergedIdx, mergedStats, qs, k = 20)
      .collect().map(_.toSeq).toSet
    val viaRebuild = Retrieval.bm25(full, qs, k = 20).collect().map(_.toSeq).toSet
    assert(viaMerge == viaRebuild)
  }

  test("plan: broadcast query side + map-side WindowGroupLimit") {
    val plan = Retrieval.bm25(corpus, query(Seq("a", "c")), k = 10)
    plan.collect() // finalize AQE
    val s = plan.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      s"query-side joins must broadcast:\n$s")
    assert(s.contains("WindowGroupLimit"),
      s"top-k must push a map-side WindowGroupLimit:\n$s")
  }
}
