package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-up generator: builds an sf-N×10 corpus from an
 * existing sandbox scale factor, entirely in-engine (no external
 * data, no randomness — every value is a pure function of ids).
 *
 *   - relational tables replicate `factor`× with all join keys
 *     shifted by k·10^7 per copy, so foreign keys stay consistent
 *     and key cardinalities scale with the data;
 *   - `documents` are generated FRESH (an LCG over (doc_id, i) picks
 *     words from the fixed vocabulary; length 10-100 words, uniform
 *     sources, the reference lang mix) so dedup/near-dup behavior
 *     stays natural instead of every doc gaining `factor` exact
 *     clones;
 *   - `embeddings` are fresh 64-dim deterministic vectors.
 *
 * Usage: runMain graft.GenData <srcSfDir> <dstDir> [factor]
 */
object GenData {

  def main(args: Array[String]): Unit = {
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.builder(cpus).getOrCreate()
    run(spark, args(0), args(1), if (args.length > 2) args(2).toInt else 10, cpus)
    spark.stop()
  }

  /** Generate into `dst`; pure function of (src contents, factor). */
  def run(spark: SparkSession, src: String, dst: String, factor: Int,
          outParts: Int = 32): Unit = {
    val cpus = outParts.toString
    val Shift = 10000000L

    def copy(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      (0 until factor).map { k =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Shift)))
      }.reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }

    copy("region")
    copy("nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))

    // Word choice MUST be hash-mixed, not a raw LCG: an affine
    // `(doc*a + i*b) % m % 31` makes consecutive words an arithmetic
    // progression mod 31 (b mod 31 is a constant step), so every doc
    // shares the same handful of trigrams — the whole corpus becomes
    // one near-dup clique and every shingle join degenerates to
    // ~all-pairs (measured: 40-minute legs + a filled disk). Murmur3
    // `hash(doc_id, i)` mixes properly; trigram overlap between
    // random docs drops to the ~uniform-universe rate.
    val nDocs = spark.read.parquet(s"$src/documents.parquet").count() * factor
    val vocabArr = graft.pipeline.TokenTable.vocabSqlArray
    val baseDocs = spark.range(nDocs).toDF("doc_id")
      .withColumn("n_words", (lit(10) + pmod(col("doc_id") * 2654435761L, lit(91))).cast("int"))
      .withColumn("text", expr(
        s"array_join(transform(sequence(0, n_words - 1), i -> " +
          s"element_at($vocabArr, cast(pmod(hash(doc_id, i), 31) as int) + 1)), ' ')"))
      .withColumn("lang", expr(
        "CASE WHEN pmod(doc_id * 97, 100) < 41 THEN 'en' " +
          "WHEN pmod(doc_id * 97, 100) < 56 THEN 'de' " +
          "WHEN pmod(doc_id * 97, 100) < 71 THEN 'es' " +
          "WHEN pmod(doc_id * 97, 100) < 86 THEN 'fr' ELSE 'zh' END"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .select("doc_id", "text", "lang", "source")
    // planted near-duplicates (every 100th doc gets a copy with one
    // appended word: trigram Jaccard ~ n/(n+1) >> 0.5) so the near-dup
    // operators have real positives to find, like the sandbox corpus
    val nearDups = baseDocs.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" the")))
    baseDocs.unionByName(nearDups)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(cpus.toInt)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // same hash-mixing requirement as documents: affine components
    // make every vector a phase-shifted ramp (high mutual cosine,
    // skewed sign-LSH buckets)
    val nVecs = spark.read.parquet(s"$src/embeddings.parquet").count() * factor
    spark.range(nVecs).toDF("vec_id")
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), d -> cast(" +
          "pmod(hash(vec_id, d), 1000003) / 1000003.0 * 2 - 1 as float))"))
      .withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
      .repartition(cpus.toInt)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"GENDATA done: $dst factor=$factor docs=$nDocs vecs=$nVecs")
  }
}
