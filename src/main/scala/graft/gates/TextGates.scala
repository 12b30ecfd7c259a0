package graft.gates

import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Text analysis gates: language id, quality, tokenization,
  * fingerprints, PII redaction, Unicode normalization, repetition, BPE,
  * LM filtering, corpus statistics and version diffs. */
object TextGates {

  val all: Seq[Gate] = Seq(
    Gate("text_lang_id", (s, dir) =>
      TextOps.langId(docs(s, dir)).orderBy("doc_id"),
      Some("SELECT doc_id, lang_label, score_de, score_en, score_es, score_fr, score_zh, " +
        "CASE WHEN m = 0 THEN 'und' WHEN score_de = m THEN 'de' WHEN score_en = m THEN 'en' " +
        "WHEN score_es = m THEN 'es' WHEN score_fr = m THEN 'fr' ELSE 'zh' END AS lang_pred " +
        "FROM (SELECT doc_id, lang_label, score_de, score_en, score_es, score_fr, score_zh, " +
        "greatest(score_de, score_en, score_es, score_fr, score_zh) AS m " +
        s"FROM (SELECT doc_id, lang AS lang_label, ${score("de")} AS score_de, ${score("en")} AS score_en, " +
        s"${score("es")} AS score_es, ${score("fr")} AS score_fr, ${score("zh")} AS score_zh " +
        s"FROM (SELECT doc_id, lang, $W AS ws FROM documents))) ORDER BY doc_id")),

    Gate("text_quality", (s, dir) =>
      TextOps.quality(docs(s, dir)).orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(ws) AS INT) AS n_words, CAST(length(text) AS INT) AS n_chars_calc, " +
        "round(list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws), 6) AS mean_word_len, " +
        "round(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS type_token_ratio, " +
        "round(len(list_filter(ws, w -> list_contains(" + stopLists("en") + ", w)))::DOUBLE / len(ws), 6) AS stopword_ratio, " +
        "(len(ws) BETWEEN 5 AND 2000 AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.05 " +
        "AND list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws) BETWEEN 1.0 AND 20.0) AS quality_keep " +
        s"FROM (SELECT doc_id, text, $W AS ws FROM documents) ORDER BY doc_id")),

    Gate("text_token_counts", (s, dir) =>
      TextOps.tokenCounts(docs(s, dir)).orderBy("doc_id"),
      Some(s"SELECT doc_id, CAST(len($W) AS INT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_re_tokens " +
        "FROM documents ORDER BY doc_id")),

    // classifier-inference plumbing: hashed bag-of-bigrams linear
    // score with a deterministic integer weight table, replayed
    // bucket-by-bucket in the oracle
    Gate("text_quality_model", (s, dir) =>
      TextOps.qualityModel(docs(s, dir)).orderBy("doc_id"),
      Some(s"WITH t AS (SELECT doc_id, $W AS ws FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')] " +
        "ELSE list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) END AS gs FROM t), " +
        "sc AS (SELECT doc_id, CAST(len(gs) AS INT) AS n_features, " +
        "COALESCE(list_sum(list_transform(gs, g -> " +
        "(((list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, c) -> (a * 31 + c) % 1000000007) % 512) * 2654435761) % 1000003) % 2001 - 1000)), 0) AS score_milli FROM g) " +
        "SELECT doc_id, n_features, CAST(score_milli AS BIGINT) AS score_milli, score_milli > 0 AS keep " +
        "FROM sc ORDER BY doc_id")),

    // one-pass per-source datacard: exact distinct-text counts and
    // char-volume totals, all integer columns. The plant re-emits
    // every 5th doc under a fresh id in its own source so n_dup_docs
    // is provably nonzero in every source
    Gate("corpus_stats", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val planted = d.union(d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id") + 30000, col("text"), col("source")))
      TextOps.corpusStats(planted).orderBy("source")
    },
      Some("WITH planted AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + 30000, text, source FROM documents WHERE doc_id % 5 = 0), " +
        "pt AS (SELECT source, md5(text) AS fp, count(*) AS cnt, min(length(text)) AS len " +
        "FROM planted GROUP BY 1, 2) " +
        "SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_distinct_texts, " +
        "CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_docs, " +
        "CAST(sum(len * cnt) AS BIGINT) AS n_chars_total, " +
        "CAST(min(len) AS BIGINT) AS min_chars, CAST(max(len) AS BIGINT) AS max_chars " +
        "FROM pt GROUP BY source ORDER BY source")),

    // per-doc novelty score over the token table: same 8-token
    // rolling windows and same prefix plant as dedup_substrings
    // (every 25th doc shares a planted 12-token prefix, so cross-doc
    // sharing is guaranteed and falsifiable); the oracle re-derives
    // windows from raw token text, so a window-key collision fails
    // the gate rather than hiding
    Gate("text_novelty", (s, dir) => {
      val t = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id").cast("long") % 25 === 0,
            expr(s"concat($SubstrPlant, tokens)")).otherwise(col("tokens")).as("tokens"))
      TextOps.novelty(t, L = 8).orderBy("doc_id")
    },
      Some(s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        s"list_transform($W, w -> CAST(list_position(${TokenTable.vocabDuckArray}, w) - 1 AS INT)) AS tk " +
        "FROM documents), " +
        s"p1 AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN $SubstrPlantDuck || tk ELSE tk END AS toks FROM tt), " +
        "w AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM p1 WHERE len(toks) >= 8), " +
        "k AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ',') AS wtext FROM w), " +
        "s AS (SELECT wtext FROM (SELECT wtext, count(DISTINCT doc_id) AS nd FROM k GROUP BY wtext) WHERE nd > 1), " +
        "sh AS (SELECT k.doc_id, count(*) AS n_shared FROM k JOIN s ON k.wtext = s.wtext GROUP BY k.doc_id) " +
        "SELECT p1.doc_id, CAST(len(p1.toks) AS INT) AS n_tok, " +
        "CAST(greatest(len(p1.toks) - 7, 0) AS INT) AS n_windows, " +
        "CAST(COALESCE(sh.n_shared, 0) AS INT) AS n_shared_windows, " +
        "CAST(greatest(len(p1.toks) - 7, 0) - COALESCE(sh.n_shared, 0) AS INT) AS n_novel_windows " +
        "FROM p1 LEFT JOIN sh ON sh.doc_id = p1.doc_id ORDER BY p1.doc_id")),

    // corpus version diff audit: v2 removes every 13th doc, rewrites
    // every 11th surviving doc's text, and re-adds a copy of every
    // 17th doc under fresh ids (shifted by observed max+1, so the
    // plant is collision-free at every scale — the merge gates'
    // sf1 lesson); the oracle replays the v2 construction and the
    // digest full-outer-join independently
    Gate("corpus_diff", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val shift = d.agg(max(col("doc_id"))).head().getLong(0) + 1
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"), col("source"))
        .union(d.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id") + shift, col("text"), col("source")))
      TextOps.corpusDiff(d, v2).orderBy("source")
    },
      Some("WITH mx AS (SELECT max(doc_id) + 1 AS sh FROM documents), " +
        "v2 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text, source " +
        "FROM documents WHERE doc_id % 13 <> 0 " +
        "UNION ALL SELECT doc_id + (SELECT sh FROM mx), text, source FROM documents WHERE doc_id % 17 = 0), " +
        "o AS (SELECT doc_id, md5(text) AS fp, source FROM documents), " +
        "n AS (SELECT doc_id, md5(text) AS fp, source FROM v2), " +
        "j AS (SELECT coalesce(n.source, o.source) AS source, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) " +
        "SELECT source, " +
        "CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added, " +
        "CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed, " +
        "CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged " +
        "FROM j GROUP BY source ORDER BY source")),

    Gate("text_fingerprints", (s, dir) =>
      TextOps.fingerprints(docs(s, dir)).orderBy("doc_id"),
      Some("SELECT doc_id, md5(text) AS fp_md5, " +
        "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, c) -> (a * 31 + c) % 1000000007) AS fp_rolling " +
        "FROM documents ORDER BY doc_id")),

    // PII redaction over docs with deterministically PLANTED pii (the
    // synthetic corpus contains none — the plant makes the redaction
    // falsifiable); the oracle replays plant + scrub + counts exactly.
    // The plant covers the two audit-count traps: a MIXED-CASE email
    // (case-sensitive patterns would leak it) whose local part embeds
    // a >=6-digit run (must scrub as <EMAIL>, not count as <NUM>),
    // plus the same digit run standing alone (must count)
    Gate("text_redact_pii", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or Ops.Team99887766@Example.COM ref 99887766 x"),
          col("doc_id") % 3).as("text"))
      TextOps.redactPii(planted).orderBy("doc_id")
    },
      Some("WITH planted AS (SELECT doc_id, text || ' contact user' || doc_id || " +
        "'@example.com or Ops.Team99887766@Example.COM ref 99887766 x' || (doc_id % 3) AS text FROM documents) " +
        "SELECT doc_id, " +
        s"regexp_replace(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'), " +
        s"'${TextOps.NumberPattern}', '<NUM>', 'g') AS text_clean, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS INT) AS n_emails, " +
        // redactions PERFORMED: digit runs inside emails are already
        // <EMAIL> by the time the number pass runs
        s"CAST(len(regexp_extract_all(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'), " +
        s"'${TextOps.NumberPattern}')) AS INT) AS n_numbers " +
        "FROM planted ORDER BY doc_id")),

    // Unicode normalization — the pass every corpus release runs
    // FIRST (visually-identical strings with different combining-mark
    // encodings slip every downstream exact-dedup/hash stage). The
    // natural corpus is pure ASCII, so the gate PLANTS both encodings
    // (combining acute/diaeresis AND a precomposed É) on every doc;
    // NFC length contraction, the NFC md5, the accent-stripped md5,
    // and NFC idempotence are all gated columns the oracle recomputes
    // with DuckDB's own utf8proc normalizer — two independent Unicode
    // implementations must agree byte-for-byte.
    Gate("text_normalize", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" Cafe\u0301 \u00C9lan No\u0308el")).as("text"))
      val nfcd = TextFunctions.nfc(col("text"))
      planted.select(col("doc_id"),
        length(col("text")).as("n_raw"),
        length(nfcd).as("n_nfc"),
        md5(nfcd).as("nfc_md5"),
        md5(TextFunctions.stripAccents(nfcd)).as("strip_md5"),
        (TextFunctions.nfc(nfcd) === nfcd).as("nfc_idempotent"))
        .orderBy("doc_id")
    },
      Some("WITH p AS (SELECT doc_id, concat(text, ' Cafe' || chr(769) || ' ' || chr(201) " +
        "|| 'lan No' || chr(776) || 'el') AS t FROM documents) " +
        "SELECT doc_id, CAST(length(t) AS BIGINT) AS n_raw, " +
        "CAST(length(nfc_normalize(t)) AS BIGINT) AS n_nfc, " +
        "md5(nfc_normalize(t)) AS nfc_md5, " +
        "md5(strip_accents(nfc_normalize(t))) AS strip_md5, " +
        "TRUE AS nfc_idempotent " +
        "FROM p ORDER BY doc_id")),

    // Gopher repetition stats over docs with deterministically PLANTED
    // repetition (every 40th doc gets ' spam' x30 appended — the
    // natural corpus is near-uniform, so without the plant the keep
    // rule would never fire and the gate couldn't falsify it); the
    // oracle replays the explode -> groupBy -> window form in SQL
    Gate("text_repetition", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 40 === 0,
          concat(col("text"), expr("repeat(' spam', 30)")))
          .otherwise(col("text")).as("text"))
      TextOps.repetition(planted).orderBy("doc_id")
    },
      Some("WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 40 = 0 " +
        "THEN text || repeat(' spam', 30) ELSE text END AS text FROM documents), " +
        "t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(text) AS INT) AS n_chars_doc, " +
        s"$W AS ws FROM planted), " +
        "e2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram FROM t), " +
        "c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM e2 GROUP BY 1, 2), " +
        "a2 AS (SELECT doc_id, CAST(sum(cnt) AS INT) AS g2, " +
        "CAST(COALESCE(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0) AS BIGINT) AS dup2_chars FROM c2 GROUP BY 1), " +
        "t2 AS (SELECT doc_id, CAST(cnt AS INT) AS top2_cnt, CAST(cnt * length(gram) AS BIGINT) AS top2_chars FROM " +
        "(SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c2) WHERE rn = 1), " +
        "e3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram FROM t), " +
        "c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM e3 GROUP BY 1, 2), " +
        "a3 AS (SELECT doc_id, CAST(sum(cnt) AS INT) AS g3, " +
        "CAST(COALESCE(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0) AS BIGINT) AS dup3_chars FROM c3 GROUP BY 1), " +
        "t3 AS (SELECT doc_id, CAST(cnt AS INT) AS top3_cnt, CAST(cnt * length(gram) AS BIGINT) AS top3_chars FROM " +
        "(SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c3) WHERE rn = 1) " +
        "SELECT t.doc_id, t.n_chars_doc, a2.g2, t2.top2_cnt, t2.top2_chars, a2.dup2_chars, " +
        "a3.g3, t3.top3_cnt, t3.top3_chars, a3.dup3_chars, " +
        "(t2.top2_chars * 5 <= t.n_chars_doc AND a3.dup3_chars * 20 <= t.n_chars_doc * 3) AS rep_keep " +
        "FROM t JOIN a2 USING (doc_id) JOIN t2 USING (doc_id) JOIN a3 USING (doc_id) JOIN t3 USING (doc_id) " +
        "ORDER BY doc_id")),

    // BPE merge training: R rounds of most-frequent-pair merging over
    // the word-frequency table (per-round cost O(|vocab|), corpus
    // touched once) — every round's argmax and count replayed exactly
    // by the oracle's CTE chain (Bpe.oracleSql)
    Gate("text_bpe_train", (s, dir) =>
      Bpe.train(docs(s, dir), rounds = 6).orderBy("round"),
      Some(Bpe.oracleSql(6))),

    // the APPLY half of the tokenizer: train 6 merges, then encode
    // every document row-locally (merge table inlined as plan
    // literals — scan + 6 codegen'd replaces, zero shuffle); hashing
    // `encoded` forces the oracle to replay every merge, and the
    // decode(encode(x)) == normalize(x) round-trip is a gated COLUMN,
    // not a side assertion
    Gate("text_bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      val m = Bpe.train(d, rounds = 6).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encode(d, m).orderBy("doc_id")
    },
      Some(Bpe.encodeOracleSql(6))),

    // LM quality filtering (the CCNet pairing: boilerplate removal +
    // an LM trained on a trusted slice scoring the crawl): bigram LM
    // with add-one smoothing on refSource, rare-bigram rate per pool
    // doc in exact per-mille, keep at the corpus lower-median (a real
    // ~50% split — the decontam gate's median discipline); every
    // count, the rarity cross-multiplication, the per-mille floor,
    // and the median itself replay exactly in the oracle
    Gate("text_lm_filter", (s, dir) => {
      // stage-boundary checkpoint (the corpus_prep discipline): the
      // median pass and the final projection both read `scored` —
      // without it the whole model+score DAG replays twice.
      // The median itself is the decontam gate's discipline: Spark's
      // EXACT percentile aggregate (partial-aggregatable counting over
      // rare_pm's <= 1001 distinct values — never a one-task global
      // window) == DuckDB quantile_cont
      val scored = LmFilter.rareBigramScore(docs(s, dir), refSource = "src0")
        .localCheckpoint()
      val med = scored.agg(expr("percentile(rare_pm, 0.5)").as("med_pm"))
      scored.crossJoin(broadcast(med))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          col("n_rare"), col("rare_pm"),
          (col("rare_pm") <= col("med_pm")).as("keep"))
        .orderBy("doc_id")
    },
      // the bigram LM, the cross-multiplied rarity rule, the per-mille
      // floor, and the lower-median keep threshold all replay exactly
      Some(s"WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, $W AS ws FROM documents), " +
        "gg AS (SELECT doc_id, source, gram, string_split(gram, ' ')[1] AS w1 FROM " +
        "(SELECT doc_id, source, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram " +
        "FROM t WHERE len(ws) >= 2)), " +
        "m2 AS (SELECT gram, count(*) AS c2 FROM gg WHERE source = 'src0' GROUP BY gram), " +
        "m1 AS (SELECT w1, count(*) AS c1 FROM gg WHERE source = 'src0' GROUP BY w1), " +
        "vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ws) AS w FROM t WHERE source = 'src0')), " +
        "scored AS (SELECT doc_id, source, count(*) AS n_bigrams, " +
        "CAST(sum(CASE WHEN (COALESCE(m2.c2, 0) + 1) * 50 < COALESCE(m1.c1, 0) + vv.v THEN 1 ELSE 0 END) AS BIGINT) AS n_rare " +
        "FROM gg LEFT JOIN m2 USING (gram) LEFT JOIN m1 USING (w1) CROSS JOIN vv " +
        "WHERE source <> 'src0' GROUP BY doc_id, source), " +
        "s2 AS (SELECT doc_id, source, n_bigrams, n_rare, " +
        "CAST(floor(n_rare * 1000 / n_bigrams) AS BIGINT) AS rare_pm FROM scored), " +
        "med AS (SELECT quantile_cont(rare_pm, 0.5) AS med_pm FROM s2) " +
        "SELECT doc_id, source, n_bigrams, n_rare, rare_pm, rare_pm <= med_pm AS keep " +
        "FROM s2 CROSS JOIN med ORDER BY doc_id"))
  )
}
