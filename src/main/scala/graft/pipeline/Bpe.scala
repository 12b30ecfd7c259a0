package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * BPE-style merge training over a corpus (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units" —
 * the tokenizer-training pass of every LLM data pipeline).
 *
 * Structure, not a toy: the corpus is first collapsed to its
 * WORD-FREQUENCY table by one distributed groupBy (map-side combine,
 * one shuffle whose width is the vocabulary, not the corpus). All R
 * merge rounds then iterate over that table — so at 100 TB the
 * per-round cost is O(|vocab|), independent of corpus size, and each
 * round is one pair-count shuffle + a 1-row driver round-trip for
 * the argmax (the only driver traffic).
 *
 * Merge application semantics are deliberately the portable
 * single-pass `replace` (left-to-right, resume AFTER the
 * replacement, symbols space-delimited with sentinel spaces): both
 * the JVM and DuckDB implement exactly this scan, so the oracle
 * replays every round byte-for-byte. This differs from canonical
 * BPE only on immediately-adjacent repeated occurrences: the resume
 * point skips the symbol that ended a replacement, so `a a a a`
 * becomes `aa a a` in one round (canonical BPE gives `aa aa`) and
 * the leftover pair merges in a later round. No asymptotics change
 * and determinism holds across engines.
 *
 * Tie-break: highest count, then (lhs, rhs) lexicographic — total
 * order, so training is reproducible on any cluster layout.
 */
object Bpe {

  /** (round, lhs, rhs, pair_count) for `rounds` merge rounds.
    *
    * The corpus is touched ONCE (the distributed word-frequency
    * aggregation); the R merge rounds then iterate over that
    * vocabulary-sized table ON THE DRIVER — the shape every
    * production tokenizer trainer uses (a tokenizer's working set is
    * the vocab, not the corpus), bounded by the guard below. Before
    * r6 each round was a separate Spark job (pair-count shuffle +
    * argmax round-trip) whose driver turnaround left the cluster
    * idle; the local fold replays the identical semantics — adjacent
    * pairs of the space-split symbol seq weighted by cnt, argmax by
    * (count desc, lhs, rhs) over ASCII-alphanumeric symbols (binary
    * order == UTF8 order), and the same single-pass
    * replace-all-resume-after application (java.lang.String.replace
    * and Spark's replace share it). */
  def train(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    // corpus -> word-frequency table, symbols space-separated chars
    val rows = docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(expr("array_join(split(w, ''), ' ')").as("seq"), col("cnt"))
      .collect()
    require(rows.length <= 10000000,
      s"word-frequency table ${rows.length} rows: the merge loop is a driver-side " +
        "model computation, keep the vocabulary bounded")
    var seqs = rows.map(r => (r.getString(0), r.getLong(1)))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      seqs.foreach { case (seq, cnt) =>
        val parts = seq.split(" ")
        var i = 0
        while (i + 1 < parts.length) {
          val k = (parts(i), parts(i + 1))
          counts.put(k, counts.getOrDefault(k, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax by (count desc, lhs asc, rhs asc) — symbols are
        // ASCII alphanumeric (enforced below), so String ordering
        // matches the distributed UTF8 binary ordering
        var best: ((String, String), Long) = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val k = e.getKey
          val c = e.getValue.longValue()
          val better = best == null || c > best._2 ||
            (c == best._2 && {
              val cl = k._1.compareTo(best._1._1)
              cl < 0 || (cl == 0 && k._2.compareTo(best._1._2) < 0)
            })
          if (better) best = (k, c)
        }
        val ((l, rr), c) = best
        require(l.matches("[a-z0-9]+") && rr.matches("[a-z0-9]+"),
          s"BPE symbols must be alphanumeric to inline safely: '$l' '$rr'")
        merges += ((r, l, rr, c))
        val from = s" $l $rr "
        val to = s" $l$rr "
        seqs = seqs.map { case (seq, cnt) =>
          val replaced = (" " + seq + " ").replace(from, to)
          (replaced.substring(1, replaced.length - 1), cnt)
        }
      }
      r += 1
    }
    import spark.implicits._
    merges.result().toDF("round", "lhs", "rhs", "pair_count")
  }

  /**
   * Encode every document with an already-trained merge table — the
   * APPLY half of the tokenizer (training's complement; together they
   * are the reference-style "build once, probe everywhere" shape for
   * tokenization). Per word: characters become symbols, then each
   * merge is applied IN ROUND ORDER with the identical single-pass
   * replace semantics as training. Words are separated in the symbol
   * stream by the boundary token `|` — training requires merge
   * symbols to be alphanumeric, so no ` lhs rhs ` pattern can ever
   * span it.
   *
   * 100 TB posture: the merge table is a driver-side literal (R is
   * tokenizer-sized, not data-sized), so encoding is a scan + R
   * nested codegen'd string replaces + projection — row-local, zero
   * shuffle, no state. Emits per doc:
   *   - `encoded`   the final space-joined symbol stream (hashing this
   *                 forces the oracle to replay every merge exactly —
   *                 a no-op encoder cannot pass),
   *   - `n_tokens`  symbols excluding word boundaries,
   *   - `lossless`  decode(encode(text)) == whitespace-normalized text,
   *                 computed in-plan so the round-trip is part of the
   *                 gated answer, not a side assertion.
   */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    merges.foreach { case (l, r) =>
      require(l.matches("[a-z0-9]+") && r.matches("[a-z0-9]+"),
        s"merge symbols must be alphanumeric: '$l' '$r'")
    }
    // char stream per word WITHOUT the per-character regex pass:
    // split(w, '') enumerates characters like regexp_replace(w, '(.)',
    // '$1 ') + trim does (words are whitespace-free by construction,
    // so the two forms agree on every input), but runs regex-free
    val seq0 = expr(
      "array_join(transform(split(trim(text), '\\\\s+'), " +
        "w -> array_join(split(w, ''), ' ')), ' | ')")
    var enc = docs.select(col("doc_id"), seq0.as("seq"),
      expr("array_join(split(trim(text), '\\\\s+'), ' ')").as("norm"))
    for ((l, r) <- merges)
      enc = enc.select(col("doc_id"),
        trim(expr(s"replace(' ' || seq || ' ', ' $l $r ', ' $l$r ')")).as("seq"),
        col("norm"))
    enc.select(
      col("doc_id"),
      col("seq").as("encoded"),
      expr("size(filter(split(seq, ' '), x -> x != '|' AND x != ''))").as("n_tokens"),
      (expr("replace(replace(seq, ' ', ''), '|', ' ')") === col("norm")).as("lossless"))
  }

  /** Shared training CTE chain: w0 (word-frequency char seqs),
    * p_r/m_r (pair counts + argmax) per round, w_r re-applications up
    * to `applyThrough`. Every CTE is `MATERIALIZED`: DuckDB inlines
    * CTEs by default, and each round references the previous one
    * several times (scalar subqueries on m_r inside the replace), so
    * an inlined chain re-evaluates the base exponentially in rounds —
    * >300 s at 500 docs vs <1 s materialized. */
  private def trainCtes(rounds: Int, applyThrough: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH w0 AS MATERIALIZED (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq, ")
      .append("CAST(count(*) AS BIGINT) AS cnt FROM ")
      .append("(SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) GROUP BY 1)")
    for (r <- 1 to rounds) {
      val prev = s"w${r - 1}"
      sb.append(s", p$r AS MATERIALIZED (SELECT ws[i] AS lhs, ws[i+1] AS rhs, CAST(sum(cnt) AS BIGINT) AS c ")
        .append(s"FROM (SELECT regexp_split_to_array(seq, ' ') AS ws, cnt FROM $prev) t, ")
        .append("unnest(range(1, len(ws))) AS u(i) GROUP BY 1, 2)")
      sb.append(s", m$r AS MATERIALIZED (SELECT lhs, rhs, c FROM p$r ORDER BY c DESC, lhs, rhs LIMIT 1)")
      if (r <= applyThrough)
        sb.append(s", w$r AS MATERIALIZED (SELECT trim(replace(' ' || seq || ' ', ")
          .append(s"' ' || (SELECT lhs FROM m$r) || ' ' || (SELECT rhs FROM m$r) || ' ', ")
          .append(s"' ' || (SELECT lhs FROM m$r) || (SELECT rhs FROM m$r) || ' ')) AS seq, cnt FROM $prev)")
    }
    sb.toString
  }

  /** DuckDB replay of `train`: one CTE chain per round, same
    * pair-count, same (c DESC, lhs, rhs) argmax, same single-pass
    * replace application. */
  def oracleSql(rounds: Int): String = {
    val sb = new StringBuilder(trainCtes(rounds, rounds - 1))
    sb.append(" SELECT * FROM (")
    sb.append((1 to rounds).map(r =>
      s"SELECT $r AS round, lhs, rhs, c AS pair_count FROM m$r").mkString(" UNION ALL "))
    sb.append(") ORDER BY round")
    sb.toString
  }

  /** DuckDB replay of train-then-`encode`: the training chain yields
    * m_1..m_R, then every document's boundary-joined char stream gets
    * the R merges applied in order (d_0..d_R), reproducing `encoded`,
    * `n_tokens` and the `lossless` round-trip byte-for-byte. */
  def encodeOracleSql(rounds: Int): String = {
    val sb = new StringBuilder(trainCtes(rounds, rounds - 1))
    sb.append(", d0 AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(")
      .append("regexp_split_to_array(trim(text), '\\s+'), ")
      .append("w -> trim(regexp_replace(w, '(.)', '\\1 ', 'g'))), ' | ') AS seq FROM documents)")
    for (r <- 1 to rounds)
      sb.append(s", d$r AS MATERIALIZED (SELECT doc_id, trim(replace(' ' || seq || ' ', ")
        .append(s"' ' || (SELECT lhs FROM m$r) || ' ' || (SELECT rhs FROM m$r) || ' ', ")
        .append(s"' ' || (SELECT lhs FROM m$r) || (SELECT rhs FROM m$r) || ' ')) AS seq FROM d${r - 1})")
    sb.append(s" SELECT doc_id, seq AS encoded, ")
      .append("CAST(len(list_filter(regexp_split_to_array(seq, ' '), ")
      .append("x -> x != '|' AND x != '')) AS INT) AS n_tokens, ")
      .append("replace(replace(seq, ' ', ''), '|', ' ') = ")
      .append("array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ') AS lossless ")
      .append(s"FROM d$rounds JOIN documents USING (doc_id) ORDER BY doc_id")
    sb.toString
  }
}
