package graft.gates

import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Search gates: exact and approximate (LSH, IVF, int8) top-k over the
  * embeddings, and BM25 retrieval in batch and streaming (one
  * oracle). */
object SearchGates {

  /** BM25 top-10 replay shared by retrieval_bm25 and stream_retrieval. */
  private def RetrievalOracle: String =
    "WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "idx AS (SELECT term, doc_id, dl, CAST(count(*) AS INT) AS tf FROM " +
      "(SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM ws) GROUP BY term, doc_id, dl), " +
      "stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM (SELECT DISTINCT doc_id, dl FROM idx)), " +
      "dfs AS (SELECT term, count(*) AS df FROM idx GROUP BY term), " +
      "qt AS (SELECT DISTINCT doc_id AS q_id, unnest(w[1:8]) AS term FROM ws WHERE doc_id % 50 = 0), " +
      "contrib AS (SELECT qt.q_id, idx.doc_id, " +
      "CAST(round((ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "(tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (total_len::DOUBLE / n_docs))))) * 1e6) AS BIGINT) AS c_bm25, " +
      "CAST(round((tf * ln(n_docs::DOUBLE / df)) * 1e6) AS BIGINT) AS c_tfidf " +
      "FROM idx JOIN dfs USING (term) JOIN qt USING (term) CROSS JOIN stats), " +
      "scored AS (SELECT q_id, doc_id, CAST(sum(c_bm25) AS BIGINT) AS score_micros, " +
      "CAST(sum(c_tfidf) AS BIGINT) AS tfidf_micros " +
      "FROM contrib GROUP BY q_id, doc_id) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, doc_id, score_micros, tfidf_micros FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_micros DESC, doc_id) AS rank FROM scored) " +
      "WHERE rank <= 10 ORDER BY q_id, rank"

  val all: Seq[Gate] = Seq(
    // ---- similarity search ----------------------------------------------
    Gate("ann_brute_topk", (s, dir) =>
      Ann.bruteTopK(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "rank"),
      Some("SELECT q_id, CAST(rank AS INT) AS rank, n_id, round(c, 6) AS cos FROM (" +
        "SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rank FROM (" +
        s"SELECT a.vec_id AS q_id, b.vec_id AS n_id, $Cos AS c FROM $Vecs a JOIN $Vecs b ON b.vec_id <> a.vec_id " +
        "WHERE a.vec_id < 10)) WHERE rank <= 10 ORDER BY q_id, rank")),

    // falsifiable recall floors (0.9): a floor near zero only asserts
    // non-emptiness. Measured (deterministic hyperplanes/centroids):
    // LSH mean recall@10 = 0.97-0.98 with every query >= 0.9; IVF mean
    // 0.94-1.0 across sf0.001/0.01/0.1
    Gate("ann_lsh_topk", (s, dir) =>
      Ann.lshTopK(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9).orderBy("q_id"),
      Some("SELECT vec_id AS q_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id")),

    Gate("ann_ivf_topk", (s, dir) =>
      Ann.ivfTopK(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9).orderBy("q_id"),
      Some("SELECT vec_id AS q_id, TRUE AS mean_recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id")),

    // raw approximate paths (no recall harness): what a user's query
    // actually costs — rows-only gate (no SQL oracle can replay LSH
    // buckets / quantizer cells); quality is gated by the _topk pair
    Gate("ann_lsh_topk_raw", (s, dir) =>
      Ann.lshTopKRaw(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "n_id"),
      None),

    Gate("ann_ivf_topk_raw", (s, dir) =>
      Ann.ivfTopKRaw(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "n_id"),
      None),

    // IVF-SQ8: cell-pruned candidate set over int8 postings (the
    // float vectors never ride the search), mean-recall gated against
    // the exact float answer like the float IVF tier
    Gate("ann_ivf_quantized", (s, dir) =>
      Quantize.ivfTopKQuantized(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9),
      // like the float IVF gate: the quantizer's cells aren't SQL-
      // replayable, so the contract column (mean recall vs the exact
      // float ranking, computed Spark-side) is what the oracle asserts
      Some("SELECT vec_id AS q_id, TRUE AS mean_recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id")),

    // ---- int8 quantized embeddings (the 4x storage/scan-IO tier) --------
    // vector-grain audit: the full quantized vector is hashed (CSV
    // rendering), its exact integer moments replay, and the
    // |q - v*127/amax| <= 0.5 reconstruction bound is asserted per
    // component in-plan
    Gate("embedding_quantize_int8", (s, dir) =>
      Quantize.int8Audit(emb(s, dir)),
      // int8 quantization replayed component-by-component: amax is an
      // exact max, q_i = floor(v_i * 127.0 / amax + 0.5) is one IEEE
      // multiply/divide/add/floor (identical doubles in any IEEE
      // engine), and the integer moments are exact sums; recon_ok is
      // the in-plan |q - v*127/amax| <= 0.5 bound
      Some(s"WITH q AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM $Vecs), " +
        "qq AS (SELECT vec_id, amax, [CASE WHEN amax = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(floor(e[i] * 127.0 / amax + 0.5) AS BIGINT) END for i in range(1, 65)] AS qv FROM q) " +
        "SELECT vec_id, array_to_string(qv, ',') AS q_csv, round(amax, 6) AS amax_r, " +
        "CAST(list_sum(qv) AS BIGINT) AS q_sum, " +
        "CAST(list_sum([qv[i] * qv[i] for i in range(1, 65)]) AS BIGINT) AS q_nrm2, " +
        "TRUE AS recon_ok FROM qq ORDER BY vec_id")),

    // quantized brute top-k with a FULLY-REPLAYED recall harness:
    // unlike the LSH/IVF gates (whose bucket internals no SQL can
    // replay), the oracle recomputes the quantization, the integer
    // dots, the quantized ranking AND the exact float ranking, so
    // n_hit (the recall numerator) is hash-checked, not asserted.
    // Measured: n_hit >= 9/10 on every query at sf0.001-0.1
    Gate("ann_quantized_topk", (s, dir) =>
      Quantize.topKQuantized(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.8),
      // the full quantized search AND the exact float search both
      // replay, so the ranking, the integer dots, the quantized
      // cosines, and the per-query recall numerator n_hit are all
      // hash-checked
      Some(s"WITH q AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM $Vecs), " +
        "qq AS (SELECT vec_id, [CASE WHEN amax = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(floor(e[i] * 127.0 / amax + 0.5) AS BIGINT) END for i in range(1, 65)] AS qv FROM q), " +
        "qn AS (SELECT vec_id, qv, CAST(list_sum([qv[i] * qv[i] for i in range(1, 65)]) AS BIGINT) AS n2 FROM qq), " +
        "pairs AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, " +
        "CAST(list_sum([a.qv[i] * b.qv[i] for i in range(1, 65)]) AS BIGINT) AS dq, a.n2 AS na, b.n2 AS nb " +
        "FROM qn a JOIN qn b ON b.vec_id <> a.vec_id WHERE a.vec_id < 10), " +
        "ranked AS (SELECT q_id, n_id, dq, " +
        "CAST(dq AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS qcos, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY " +
        "CAST(dq AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, n_id) AS rank FROM pairs), " +
        "topq AS (SELECT * FROM ranked WHERE rank <= 10), " +
        "exact AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rank FROM (" +
        s"SELECT a.vec_id AS q_id, b.vec_id AS n_id, $Cos AS c FROM $Vecs a JOIN $Vecs b ON b.vec_id <> a.vec_id " +
        "WHERE a.vec_id < 10)) WHERE rank <= 10), " +
        "hits AS (SELECT topq.q_id, count(*) AS n_hit FROM topq JOIN exact ON topq.q_id = exact.q_id AND topq.n_id = exact.n_id GROUP BY topq.q_id) " +
        "SELECT topq.q_id, CAST(rank AS INT) AS rank, n_id, dq, round(qcos, 6) AS qcos, " +
        "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit, COALESCE(n_hit, 0) >= 8 AS recall_ok " +
        "FROM topq LEFT JOIN hits ON topq.q_id = hits.q_id ORDER BY topq.q_id, rank")),

    // ---- sparse retrieval (inverted index + BM25) -----------------------
    // queries = every 50th doc's first-8-words term SET (scoring is
    // set-of-terms, so order never enters the contract); fixed-point
    // micros make the summed scores exact integers on both sides
    Gate("retrieval_bm25", (s, dir) => {
      val d = docs(s, dir)
      val qs = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"),
          slice(TextFunctions.words(col("text")), 1, 8).as("terms"))
      Retrieval.bm25(d, qs, k = 10).orderBy("q_id", "rank")
    },
      // BM25 replayed end-to-end: postings, df, corpus scalars, Lucene
      // idf, length-normalized tf, per-term fixed-point micros summed as
      // exact integers, row_number top-10 with the same tie order.
      // Streaming runs the SAME contract (stateless per query)
      Some(RetrievalOracle)),

    // the same scoring always-on: queries arrive as a stream, the
    // corpus index is the static cached side (build-once posting
    // lists + term stats); stateless per query, so the oracle is the
    // batch operator's oracle verbatim
    Gate("stream_retrieval", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsrt")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir)
      val seedF = alongside {
        d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("q_id"),
            slice(TextFunctions.words(col("text")), 1, 8).as("terms"))
          // repartition, not coalesce: coalesce(2) collapses the whole
          // corpus scan + filter into 2 tasks; the round-robin exchange
          // moves only the ~2% surviving query rows (r6 A/B: 6.0 -> 5.5 s)
          .repartition(2)
          .write.mode("overwrite").parquet(in)
      }
      graft.streaming.StreamRetrieval.bm25Stream(
        s, in, d, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        k = 10, awaitInput = seedF)
        .orderBy("q_id", "rank")
    },
      Some(RetrievalOracle))
  )
}
