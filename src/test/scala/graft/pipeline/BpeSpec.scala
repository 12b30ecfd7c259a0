package graft.pipeline

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * BPE merge training: hand-computed goldens on a corpus small enough
 * to trace by eye, including the tie-break order and the documented
 * single-pass replace semantics on adjacent overlapping pairs.
 */
class BpeSpec extends AnyFunSuite with SharedSpark {

  private def corpus(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("golden: merges follow max-count with (lhs, rhs) tie-break") {
    // words: "aab" x3, "abc" x2  => symbols a a b / a b c
    // round 1 pairs: (a,a)=3, (a,b)=3+2=5, (b,c)=2 -> merge (a,b) count 5
    // after: "a ab" x3, "ab c" x2
    // round 2 pairs: (a,ab)=3, (ab,c)=2 -> merge (a,ab) count 3
    // after: "aab" x3, "ab c" x2
    // round 3 pairs: (ab,c)=2 -> merge (ab,c) count 2
    val out = Bpe.train(corpus("aab aab aab abc abc"), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, "a", "b", 5L),
      (2, "a", "ab", 3L),
      (3, "ab", "c", 2L)))
  }

  test("adjacent-overlap semantics: single-pass replace, remaining pairs merge next round") {
    // word "aaaa" x1 => a a a a; round 1 pair (a,a)=3 -> merge
    // single-pass replace: ' a a a a ' consumes ' a a ' then resumes
    // AFTER the replacement, so only the first pair merges: 'aa a a'
    // round 2 pairs: (aa,a)=1, (a,a)=1 -> count tie, lexicographic
    // tie-break picks (a,a)
    val out = Bpe.train(corpus("aaaa"), rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "a", 3L), (2, "a", "a", 1L)))
  }

  test("training exhausts gracefully when all words collapse to one symbol") {
    val out = Bpe.train(corpus("ab ab"), rounds = 5).collect()
    // round 1 merges (a,b); afterwards no pairs remain -> 1 row only
    assert(out.length == 1)
  }

  test("oracleSql structure covers every round") {
    val sql = Bpe.oracleSql(4)
    for (r <- 1 to 4) { assert(sql.contains(s"m$r AS")); assert(sql.contains(s"p$r AS")) }
    assert(!sql.contains("w4 AS")) // no apply step after the last round
  }

  test("encode golden: merges applied in round order across word boundaries") {
    // merges from the first golden: (a,b), (a,ab), (ab,c)
    // "aab abc" -> "a a b | a b c" -> "a ab | ab c" -> "aab | ab c"
    //           -> "aab | abc"
    val out = Bpe.encode(corpus("aab abc"),
        Seq(("a", "b"), ("a", "ab"), ("ab", "c")))
      .collect().map(r => (r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("aab | abc", 2, true)))
  }

  test("encode matches training's single-pass adjacent-overlap semantics") {
    // merge (a,a) on "aaaa": ' a a a a ' consumes the first pair and
    // resumes after it -> "aa a a" (three tokens), same rule as train
    val out = Bpe.encode(corpus("aaaa"), Seq(("a", "a")))
      .collect().map(r => (r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("aa a a", 3, true)))
  }

  test("encode round-trip is lossless modulo whitespace normalization") {
    val d = corpus("ab  ab\naab", "c c  c")
    val m = Bpe.train(d, rounds = 2).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = Bpe.encode(d, m).orderBy("doc_id").collect()
    assert(out.forall(_.getBoolean(3)), "every doc must decode back")
    // merges actually fired: the corpus contains trained pairs, so at
    // least one doc must have fewer tokens than characters-in-words
    val enc = out.map(_.getString(1))
    assert(enc.exists(_.split(' ').exists(_.length > 1)),
      s"no merged symbol in ${enc.toSeq}")
  }

  test("encode with zero merges is the raw character stream") {
    val out = Bpe.encode(corpus("ab c"), Nil).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("a b | c", 3, true)))
  }

  test("encodeOracleSql applies every round to the document chain") {
    val sql = Bpe.encodeOracleSql(4)
    for (r <- 1 to 4) assert(sql.contains(s"d$r AS"))
    assert(sql.contains("m4"))      // last merge applied to docs
    assert(!sql.contains("w4 AS"))  // but training stops re-applying
    assert(sql.contains("lossless"))
  }
}
