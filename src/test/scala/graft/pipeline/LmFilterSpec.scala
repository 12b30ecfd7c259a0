package graft.pipeline

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Bigram-LM filter on a hand-computable corpus: exact counts, the
  * cross-multiplied rarity rule, the per-mille floor, degenerate-doc
  * exclusion, and the float perplexity against a closed form. */
class LmFilterSpec extends AnyFunSuite with SharedSpark {

  // reference "a b a b c": c2 = {a b: 2, b a: 1, b c: 1},
  // c1 = {a: 2, b: 2}, V = |{a,b,c}| = 3
  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "a b a b c", "ref"),
      (10L, "a b x a", "pool"),
      (11L, "z", "pool") // one word -> no bigram -> not scored
    ).toDF("doc_id", "text", "source")
  }

  test("rare-bigram score matches the hand computation") {
    // pool doc "a b x a" bigrams: (a b) p=3/5, (b x) p=1/5, (x a) p=1/3.
    // R=4: rare iff (c2+1)*4 < c1+V -> only (b x): 4 < 5
    val r = LmFilter.rareBigramScore(corpus(), "ref", rarityDen = 4L).collect()
    assert(r.length == 1, "degenerate single-word doc must be excluded")
    val row = r.head
    assert(row.getAs[Long]("doc_id") == 10L)
    assert(row.getAs[Long]("n_bigrams") == 3L)
    assert(row.getAs[Long]("n_rare") == 1L)
    assert(row.getAs[Long]("rare_pm") == 333L) // floor(1000/3)
  }

  test("rarity threshold moves the rule as the math says") {
    // R=6: (a b) 18 < 5 no; (b x) 6 < 5 no; (x a) 6 < 3 no -> 0 rare
    val r0 = LmFilter.rareBigramScore(corpus(), "ref", rarityDen = 6L)
      .head().getAs[Long]("n_rare")
    // (b x) needs R < 5; (x a) needs R < 3; (a b) needs 3R < 5 -> R=1
    val r2 = LmFilter.rareBigramScore(corpus(), "ref", rarityDen = 2L)
      .head().getAs[Long]("n_rare")
    assert(r0 == 0L)
    assert(r2 == 2L) // (b x) and (x a)
  }

  test("distributed scores equal a sequential in-memory model on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj", "kk", "ll")
    val rows = (0L until 40L).map { id =>
      val n = 2 + rnd.nextInt(12)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val src = Seq("ref", "poolA", "poolB")(rnd.nextInt(3))
      (id, text, src)
    }
    val docs = rows.toDF("doc_id", "text", "source")

    // sequential model: same definitions as the scaladoc
    def bigrams(t: String) = { val w = t.split("\\s+"); w.sliding(2).map(_.mkString(" ")).toSeq }
    val refRows = rows.filter(_._3 == "ref")
    val c2 = refRows.flatMap(r => bigrams(r._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = refRows.flatMap(r => bigrams(r._2).map(_.split(" ")(0)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = refRows.flatMap(_._2.split("\\s+")).distinct.size.toLong
    val R = 7L
    val expected = rows.filter(r => r._3 != "ref" && r._2.split("\\s+").length >= 2).map { r =>
      val gs = bigrams(r._2)
      val nRare = gs.count { g =>
        (c2.getOrElse(g, 0L) + 1L) * R < c1.getOrElse(g.split(" ")(0), 0L) + v
      }.toLong
      (r._1, gs.size.toLong, nRare, 1000L * nRare / gs.size)
    }.toSet

    val got = LmFilter.rareBigramScore(docs, "ref", rarityDen = R).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_rare"), r.getAs[Long]("rare_pm"))).toSet
    assert(got == expected)
  }

  test("perplexity matches the closed form") {
    // ppl = exp(-(ln(3/5) + ln(1/5) + ln(1/3)) / 3) = (1/0.04)^(1/3)
    val p = LmFilter.perplexity(corpus(), "ref").head().getAs[Double]("ppl")
    assert(math.abs(p - math.pow(25.0, 1.0 / 3.0)) < 1e-9, s"ppl $p")
  }
}
