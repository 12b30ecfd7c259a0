package graft.gates

import graft.pipeline.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Inputs, plants, oracle fragments and driver helpers that gates of
  * more than one family use. */
private[gates] object Shared {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** 12-token prefix planted on every 25th doc for dedup_substrings
    * and text_novelty — Spark array literal and the same list in
    * DuckDB syntax. */
  private val SubstrPlantIds = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8)
  val SubstrPlant = SubstrPlantIds.mkString("array(", ", ", ")")
  val SubstrPlantDuck = SubstrPlantIds.mkString("[", ", ", "]")

  /** Engine-reproducible sampling coin: the top 12 hex digits of
    * md5(<id as string>) read as a bigint — the ONE definition shared
    * by `sample_uniform` and `pipeline_release` (their oracles replay
    * the identical formula; a coin change edits this and the two SQL
    * strings, nothing else). */
  def md5Coin(idCol: String): String =
    s"cast(conv(substring(md5(cast($idCol as string)), 1, 12), 16, 10) as bigint)"

  /** Runs `body` on a second driver thread, so its Spark jobs overlap
    * the caller's; the returned thunk waits for it and rethrows what
    * `body` threw. */
  def alongside[A](body: => A): () => A = {
    val f = scala.concurrent.Future(body)(scala.concurrent.ExecutionContext.global)
    () => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
  }

  /** words array, shared fragment. */
  val W = "regexp_split_to_array(text, '\\s+')"

  /** distinct word-trigram shingles of a words array named ws. */
  val Sh =
    "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])"
  val ShTable =
    s"(SELECT doc_id, $Sh AS sh FROM (SELECT doc_id, $W AS ws FROM documents))"
  /** exact trigram-jaccard pairs at >= 0.5 — shared by the dedup
    * oracles and pipeline_split_leakfree. Posting-join form (unnest →
    * gram-equality join → count per pair): identical counts to the
    * all-pairs list_intersect form, but candidate pairs come from the
    * inverted index, so the sf0.1 oracle runs in seconds instead of
    * ~9 min per use. */
  val JaccardPairs =
    s"SELECT j.id_a, j.id_b, round(j.i::DOUBLE / (ca.n + cb.n - j.i), 6) AS jaccard " +
      s"FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      s"FROM (SELECT doc_id, unnest(sh) AS g FROM $ShTable) a " +
      s"JOIN (SELECT doc_id, unnest(sh) AS g FROM $ShTable) b " +
      "ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) j " +
      s"JOIN (SELECT doc_id, len(sh) AS n FROM $ShTable) ca ON ca.doc_id = j.id_a " +
      s"JOIN (SELECT doc_id, len(sh) AS n FROM $ShTable) cb ON cb.doc_id = j.id_b " +
      "WHERE j.i::DOUBLE / (ca.n + cb.n - j.i) >= 0.5 " +
      "ORDER BY id_a, id_b"

  /** left-fold double dot product matching Spark's aggregate(zip_with). */
  private def dot(x: String, y: String) =
    s"list_reduce(list_concat([0.0], [$x[i] * $y[i] for i in range(1, 65)]), (acc, z) -> acc + z)"
  val Cos =
    s"${dot("a.e", "b.e")} / (sqrt(${dot("a.e", "a.e")}) * sqrt(${dot("b.e", "b.e")}))"
  val Vecs = "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"

  val stopLists: Map[String, String] =
    TextFunctions.StopwordProfiles.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
    }.toMap
  /** stopword hits of words array ws against language l's list */
  def score(l: String) =
    s"CAST(len(list_filter(ws, w -> list_contains(${stopLists(l)}, w))) AS INT)"
}
