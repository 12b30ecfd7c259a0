package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Canonicalization rules pinned on hand-picked URLs — one case per
  * rule plus the traps: a default port must only drop when it matches
  * the SCHEME (http://h:443 survives), tracking params must vanish
  * from first/middle/last positions without orphaning separators,
  * path case and parameter order must be preserved, and the chain
  * must be idempotent (normalizing a canonical URL is a no-op). */
class UrlOpsSpec extends AnyFunSuite with SharedSpark {

  private def norm(u: String): String = {
    import spark.implicits._
    Seq(u).toDF("url").select(UrlOps.normalizeUrl(col("url"))).head().getString(0)
  }

  test("scheme+host lowercase, default port and www drop, path case kept") {
    assert(norm("HTTPS://WWW.News-Site.COM:443/Articles/3") ==
      "https://news-site.com/Articles/3")
  }

  test("non-default port survives: 443 is not http's default") {
    assert(norm("http://WWW.News-Site.COM:443/Articles/3") ==
      "http://news-site.com:443/Articles/3")
    assert(norm("https://cdn.example.org:80/x") == "https://cdn.example.org:80/x")
    assert(norm("http://cdn.example.org:80/x") == "http://cdn.example.org/x")
  }

  test("tracking params drop in every position, order of the rest kept") {
    // leading tracker promotes the next param to '?'
    assert(norm("https://h.com/p?utm_source=feed&utm_campaign=x&id=7") ==
      "https://h.com/p?id=7")
    // trailing tracker drops with its '&'
    assert(norm("https://h.com/p?id=7&fbclid=AbC123") == "https://h.com/p?id=7")
    // tracker-only query drops the '?' too
    assert(norm("https://h.com/p?gclid=tr4ck") == "https://h.com/p")
    // non-tracker order preserved
    assert(norm("https://h.com/p?b=2&utm_medium=m&a=1") == "https://h.com/p?b=2&a=1")
  }

  test("fragment and trailing slash drop, also before a query") {
    assert(norm("https://h.com/dir/#Sec-2") == "https://h.com/dir")
    assert(norm("https://h.com/dir/?id=7#x") == "https://h.com/dir?id=7")
    assert(norm("https://h.com/") == "https://h.com")
  }

  test("normalization is idempotent") {
    val raw = Seq(
      "HTTPS://WWW.News-Site.COM:443/Articles/3/?utm_source=f&id=7#S",
      "http://cdn.example.org:80/Articles/3/?gclid=tr4ck",
      "https://Blog.Example.ORG/Articles/3/")
    raw.foreach { u => val once = norm(u); assert(norm(once) == once, u) }
  }

  test("dedupByUrl keeps min doc_id per canonical form") {
    import spark.implicits._
    val docs = Seq(
      (10L, "https://h.com/a?utm_source=x"),
      (3L, "HTTPS://h.com/a/"),
      (7L, "https://h.com/b")).toDF("doc_id", "url")
    val out = UrlOps.dedupByUrl(docs).orderBy("url_norm").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(
      ("https://h.com/a", 3L, 2L), ("https://h.com/b", 7L, 1L)))
  }

  test("capPerDomain keeps the k smallest priorities, any partitioning") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"https://d${i % 3}.com/p$i")).toDF("doc_id", "url")
    val prio = expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint)")
    def run(df: org.apache.spark.sql.DataFrame) =
      UrlOps.capPerDomain(df, 4, prio).orderBy("domain", "priority")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = run(docs)
    assert(got.size == 12 && got.map(_._1).distinct.size == 3)
    // window replay: identical survivors
    val exp = docs.select(col("doc_id"),
        regexp_extract(UrlOps.normalizeUrl(col("url")), "^[a-z]+://([^/:?]+)", 1).as("domain"),
        prio.as("p"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy(col("p"), col("doc_id").cast("string"))))
      .where(col("rn") <= 4).orderBy("domain", "p")
      .collect().map(r => (r.getString(1), r.getLong(0))).toSeq
    assert(got == exp)
    // partitioning must not change the answer (merge associativity)
    assert(run(docs.repartition(7)) == got && run(docs.coalesce(1)) == got)
  }

  test("filterBlockedDomains drops by canonical host and broadcasts the list") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://WWW.Bad.COM/x"), (2L, "https://ok.com/y"),
      (3L, "http://bad.com:8080/z")).toDF("doc_id", "url")
    val blocked = Seq("bad.com").toDF("domain")
    val kept = UrlOps.filterBlockedDomains(docs, blocked)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L))
    val plan = UrlOps.filterBlockedDomains(docs, blocked)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"blocklist join must be a broadcast anti-join:\n$plan")
  }
}
