package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.GraftFunctions._
import graft.gates.Gates
import graft.pipeline.TokenTable

/**
 * Driver contract (see SURVEY.md §7): every implemented operator gets a
 * `queries` entry, and an `oracleSql` entry (DuckDB, same parquet
 * tables) wherever the semantics are SQL-expressible. Both maps are
 * read off the gate registry, `graft.gates.Gates`, which declares each
 * gate's build beside its oracle.
 */
object SparkEntry {

  /** Flagship: sketch-build over the token table at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val toks = TokenTable.tokens(spark, dir)
    toks.groupBy(col("source")).agg(
      bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("token_bloom"),
      sbf_agg(col("doc_id"), 10000L, 1e-4, 4, 0.9).as("doc_sbf"))
      .select(col("source"),
        bloom_estimate(col("token_bloom")).as("distinct_tokens_est"),
        sbf_size(col("doc_sbf")).as("docs_est"),
        sbf_num_layers(col("doc_sbf")).as("layers"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.build).toMap

  def oracleSql: Map[String, String] =
    Gates.all.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
