package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale-decade generator must be a pure function of (src,
  * factor): two runs produce byte-identical tables, word choice is
  * hash-mixed (no degenerate trigram universe), and planted near-dups
  * exist. Guards the reproducibility claim of the sf1 artifacts. */
class GenDataSpec extends AnyFunSuite with SharedSpark {

  test("GenData is deterministic, hash-mixed, and plants near-dups") {
    import org.apache.spark.sql.functions._
    val out1 = java.nio.file.Files.createTempDirectory("gen1").toString
    val out2 = java.nio.file.Files.createTempDirectory("gen2").toString
    // factor 1 on the smallest corpus keeps the spec fast
    GenData.run(spark, "/root/testdata/sf0.001", out1, 1, outParts = 4)
    GenData.run(spark, "/root/testdata/sf0.001", out2, 1, outParts = 4)
    def docRows(dir: String) =
      spark.read.parquet(s"$dir/documents.parquet")
        .collect().map(_.toSeq).toSet
    assert(docRows(out1) == docRows(out2), "two runs must be identical")
    val docs = spark.read.parquet(s"$out1/documents.parquet")
    // hash-mixing sanity: the corpus realizes a wide trigram universe
    // (the affine-LCG bug collapsed it to ~31 shared trigrams)
    val distinctTrigrams = docs
      .select(explode(graft.pipeline.TextFunctions.shingles(
        graft.pipeline.TextFunctions.words(col("text")), 3)).as("g"))
      .agg(countDistinct("g")).head().getLong(0)
    assert(distinctTrigrams > 5000, s"degenerate trigram universe: $distinctTrigrams")
    // planted near-dups: every 100th doc has a +1000000 twin whose
    // text is the base text plus one word
    val base = docs.filter(col("doc_id") === 0).select("text").head().getString(0)
    val twin = docs.filter(col("doc_id") === 1000000L).select("text").head().getString(0)
    assert(twin == base + " the")
    // embeddings deterministic too
    def vecRows(dir: String) =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(vecRows(out1) == vecRows(out2))
  }
}
