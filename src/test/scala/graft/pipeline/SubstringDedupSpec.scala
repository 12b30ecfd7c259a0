package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Exact-substring dedup semantics (Lee et al. 2022 ExactSubstr): the
 * globally-first occurrence of each duplicated L-token window
 * survives, every other occurrence's [pos, pos+L) positions are cut,
 * and the cut is the token-granular UNION of a doc's flagged windows.
 */
class SubstringDedupSpec extends AnyFunSuite with SharedSpark {

  private def tokTable(rows: Seq[(Long, Seq[Int])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "tokens")
  }

  private def csv(xs: Seq[Int]) = xs.mkString(",")

  test("cross-doc, whole-doc, short-doc, and self-repeat semantics") {
    val a = (1 to 20).toSeq                       // doc 1: canonical
    val b = Seq(50, 51, 52) ++ a.slice(4, 14) ++ Seq(60, 61) // doc 2: 10-token run from A
    val c = (21 to 40).toSeq                      // doc 3: canonical
    val d = c                                     // doc 4: wholesale duplicate of C
    val e = Seq(90, 91, 92, 93, 94)               // doc 5: shorter than L
    val f = (70 to 81) ++ (70 to 81)              // doc 6: X ++ X self-repeat
    val g = (2 to 9) ++ (100 to 109) ++ (11 to 18) // doc 7: two DISJOINT runs from A
    val out = Dedup.substringDedup(
      tokTable(Seq(1L -> a, 2L -> b, 3L -> c, 4L -> d, 5L -> e, 6L -> f.toSeq,
        7L -> g.toSeq)), L = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap

    // canonical docs untouched
    assert(out(1L) == ((20, 0, 0, csv(a))))
    assert(out(3L) == ((20, 0, 0, csv(c))))
    // B: windows at pos 3,4,5 match A's pos 4,5,6; cut = [3,13)
    assert(out(2L) == ((15, 3, 10, csv(Seq(50, 51, 52, 60, 61)))))
    // D: every window duplicated and non-canonical -> fully cut
    assert(out(4L) == ((20, 13, 20, "")))
    // E: shorter than L -> untouched
    assert(out(5L) == ((5, 0, 0, csv(e))))
    // F = X ++ X: second copy cut exactly, clean == X
    assert(out(6L) == ((24, 5, 12, csv((70 to 81).toSeq))))
    // G: two disjoint duplicated 8-token runs (gap > L) merge into TWO
    // spans — both cut, the unique middle survives
    assert(out(7L) == ((26, 2, 16, csv((100 to 109).toSeq))))
  }

  test("a wholesale-duplicated corpus cleans every copy to empty; originals keep canonical text") {
    val t = TokenTable.load(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("tokens"))
    val dup = t.union(t.select((col("doc_id") + 10000).as("doc_id"), col("tokens")))
    val out = Dedup.substringDedup(dup, L = 8)
      .select("doc_id", "n_tok", "n_cut", "clean_csv").collect()
    val copies = out.filter(_.getLong(0) >= 10000)
    assert(copies.nonEmpty)
    copies.foreach { r =>
      if (r.getInt(1) >= 8)
        assert(r.getInt(2) == r.getInt(1) && r.getString(3).isEmpty,
          s"copy ${r.getLong(0)} not fully cut")
      else assert(r.getInt(2) == 0)
    }
    // originals: at least the docs whose windows are corpus-unique keep text
    assert(out.filter(r => r.getLong(0) < 10000 && r.getString(3).nonEmpty).nonEmpty)
  }

  test("property: distributed operator equals a sequential reference on random corpora") {
    // sequential reference: window map -> canonical occurrence ->
    // cut-position union -> clean, computed with plain Scala collections
    def reference(docs: Seq[(Long, Seq[Int])], L: Int): Map[Long, (Int, Int, Int, String)] = {
      val occ = scala.collection.mutable.Map.empty[Seq[Int], List[(Long, Int)]]
      for ((id, tk) <- docs; p <- 0 to tk.length - L)
        occ(tk.slice(p, p + L)) = (id, p) :: occ.getOrElse(tk.slice(p, p + L), Nil)
      val flagged = occ.values.filter(_.size > 1).flatMap { os =>
        val canon = os.minBy(identity)
        os.filterNot(_ == canon)
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      docs.map { case (id, tk) =>
        val ps = flagged.getOrElse(id, Nil)
        val cutIdx = ps.flatMap(p => p until p + L).toSet
        val clean = tk.zipWithIndex.collect { case (t, i) if !cutIdx(i) => t }
        id -> ((tk.length, ps.size, tk.length - clean.length, clean.mkString(",")))
      }.toMap
    }
    val rnd = new scala.util.Random(20260819L)
    for (trial <- 1 to 12) {
      // small vocab + mixed doc lengths force real cross/within-doc
      // collisions; L = 3 keeps windows likely to repeat
      val nDocs = 5 + rnd.nextInt(10)
      val docs = (1L to nDocs.toLong).map { id =>
        val n = rnd.nextInt(30)
        id -> Seq.fill(n)(rnd.nextInt(4))
      }
      val got = Dedup.substringDedup(tokTable(docs), L = 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
      assert(got == reference(docs, 3), s"trial $trial, docs $docs")
    }
  }

  test("distributed result equals single-partition result") {
    val t = TokenTable.load(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("tokens"))
    val wide = Dedup.substringDedup(t.repartition(13), L = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    val narrow = Dedup.substringDedup(t.coalesce(1), L = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(wide.toSeq == narrow.toSeq)
  }
}
