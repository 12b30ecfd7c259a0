package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-audit operators: the cross-source duplication overlap
  * matrix and the one-pass per-source datacard. */
class DatacardSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // texts t1..t4; t1 in all three sources, t2 in (A,B), t3 only in C
  // (twice — a within-source duplicate must NOT create overlap), t4
  // unique. Known matrix: (A,B)=2, (A,C)=1, (B,C)=1.
  private def corpus: DataFrame = Seq(
    (1L, "t1", "A"), (2L, "t2", "A"), (3L, "t4", "A"),
    (4L, "t1", "B"), (5L, "t2", "B"),
    (6L, "t1", "C"), (7L, "t3", "C"), (8L, "t3", "C")
  ).toDF("doc_id", "text", "source")

  test("sourceOverlap: exact matrix, a<b once per pair, within-source dups ignored") {
    val m = Dedup.sourceOverlap(corpus)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(m == Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L))
  }

  test("sourceOverlap: partitioning-invariant (map-side partial set merge is associative)") {
    val base = Dedup.sourceOverlap(corpus.repartition(1)).orderBy("source_a", "source_b").collect()
    val wide = Dedup.sourceOverlap(corpus.repartition(7)).orderBy("source_a", "source_b").collect()
    assert(base.sameElements(wide))
  }

  test("sourceOverlap plan: two exchanges, text never shuffled (digest-grained agg)") {
    val plan = Dedup.sourceOverlap(corpus).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected groupBy(fp) + groupBy(pair) only, got $exchanges:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), "collect_set partial must map-side combine")
  }

  test("corpusStats: exact per-source integers and internal consistency") {
    val rows = TextOps.corpusStats(corpus).orderBy("source").collect()
    // A: 3 docs, 3 distinct, 0 dup, 6 chars; C: 3 docs, 2 distinct, 1 dup
    val a = rows(0); val c = rows(2)
    assert(a.getString(0) == "A" && a.getLong(1) == 3 && a.getLong(2) == 3 &&
      a.getLong(3) == 0 && a.getLong(4) == 6 && a.getLong(5) == 2 && a.getLong(6) == 2)
    assert(c.getString(0) == "C" && c.getLong(1) == 3 && c.getLong(2) == 2 && c.getLong(3) == 1)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), "n_docs = distinct + dup")
      assert(r.getLong(5) <= r.getLong(6), "min <= max")
    }
    assert(rows.map(_.getLong(1)).sum == corpus.count(), "datacard accounts for every doc")
  }

  test("corpusDiff: classifies added/removed/changed/unchanged per source exactly") {
    val v1 = Seq(
      (1L, "a", "A"), (2L, "b", "A"), (3L, "c", "A"),
      (10L, "x", "B"), (11L, "y", "B")
    ).toDF("doc_id", "text", "source")
    // 2 changed, 3 removed, 20 added; 1 and 10/11 vary
    val v2 = Seq(
      (1L, "a", "A"), (2L, "b CHANGED", "A"), (20L, "new", "A"),
      (10L, "x", "B"), (11L, "y CHANGED", "B")
    ).toDF("doc_id", "text", "source")
    val m = TextOps.corpusDiff(v1, v2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m("A") == ((1L, 1L, 1L, 1L)), s"A row: ${m("A")}")
    assert(m("B") == ((0L, 0L, 1L, 1L)), s"B row: ${m("B")}")
    // every old doc is accounted for: removed + changed + unchanged = |v1|
    assert(m.values.map(v => v._2 + v._3 + v._4).sum == v1.count())
    // every new doc is accounted for: added + changed + unchanged = |v2|
    assert(m.values.map(v => v._1 + v._3 + v._4).sum == v2.count())
  }

  test("corpusDiff plan: both join inputs reduce to (doc_id, digest, source) — text never joins") {
    val v1 = corpus
    val v2 = corpus.filter($"doc_id" =!= 2L)
    val joins = TextOps.corpusDiff(v1, v2).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "diff must plan a join")
    joins.foreach { j =>
      val names = (j.left.output ++ j.right.output).map(_.name)
      assert(!names.contains("text"), s"text reached a join input: $names")
    }
  }

  test("novelty: counts cross-doc shared windows only; within-doc repeats and short docs score zero") {
    val toks = Seq(
      (1L, (1 to 12).toArray),                                  // shares window [1..8] with doc 2 at pos 0
      (2L, ((1 to 8) ++ Seq(20, 21, 22, 23)).toArray),
      (3L, ((30 to 37) ++ (30 to 37)).toArray),                 // window repeats WITHIN one doc only
      (4L, (40 to 45).toArray)                                  // shorter than L: no windows
    ).toDF("doc_id", "tokens")
    val m = TextOps.novelty(toks, L = 8).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(m(1L) == ((12, 5, 1, 4)), s"doc1: ${m(1L)}")
    assert(m(2L) == ((12, 5, 1, 4)), s"doc2: ${m(2L)}")
    assert(m(3L) == ((16, 9, 0, 9)), "a window repeated within ONE doc is not cross-doc shared")
    assert(m(4L) == ((6, 0, 0, 0)), "docs shorter than L have no windows")
    m.values.foreach { case (_, w, s, n) => assert(w == s + n, "windows = shared + novel") }
  }

  test("corpusStats plan: two-phase (source,fp) then source — exactly two exchanges") {
    val plan = TextOps.corpusStats(corpus).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected (source,fp) + (source) aggs only, got $exchanges:\n$plan")
  }
}
