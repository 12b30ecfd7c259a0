package graft.gates

import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Dedup gates: exact, span, boilerplate and substring dedup,
  * shingle-Jaccard pairs (exact, capped, MinHash, SimHash), incremental
  * and cluster dedup, and embedding dedup. */
object DedupGates {

  /** Ten corpus-vocabulary words = exactly two 5-token blocks — the
    * boilerplate paragraph dedup_spans plants on every 50th doc. */
  private val SpanPlant = "the quick scan row data merge hash join sort table"

  val all: Seq[Gate] = Seq(
    // exact dedup demonstrated on a corpus with real duplicates:
    // documents unioned with an id-shifted copy of itself
    Gate("dedup_exact", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val dup = d.union(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exactDedup(dup).orderBy("kept_doc_id")
    },
      Some("SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id, count(*) AS n_copies " +
        "FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text) ORDER BY kept_doc_id")),

    // cross-source duplication overlap matrix — the audit run before
    // choosing mixture weights: per source pair, the number of
    // distinct texts present in both. The plant mirrors every 7th doc
    // into a 'mirror_'-prefixed source, so every (srcK, mirror_srcK)
    // cell is provably nonzero and the oracle replays the full
    // digest-join independently
    Gate("dedup_source_overlap", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val planted = d.union(d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 20000, col("text"),
          concat(lit("mirror_"), col("source")).as("source")))
      Dedup.sourceOverlap(planted).orderBy("source_a", "source_b")
    },
      // independent replay of the overlap matrix: distinct (digest,
      // source) pairs self-joined on the digest — structurally different
      // from the operator's collect_set pair explosion, same answer
      Some("WITH planted AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + 20000, text, 'mirror_' || source FROM documents WHERE doc_id % 7 = 0), " +
        "ds AS (SELECT DISTINCT md5(text) AS fp, source FROM planted) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
        "FROM ds a JOIN ds b ON a.fp = b.fp AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // C4-style exact span dedup (5-token blocks, global first-wins)
    // on docs with a PLANTED shared boilerplate paragraph (two blocks
    // prepended to every 50th doc — the cross-document repeated span
    // document-level dedup can't see); natural within/cross-doc block
    // collisions are covered by the oracle grouping on raw block text
    Gate("dedup_spans", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 50 === 0,
          concat(lit(SpanPlant + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.spanDedup(planted, w = 5).orderBy("doc_id")
    },
      Some(s"WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 50 = 0 " +
        s"THEN '$SpanPlant ' || text ELSE text END AS text FROM documents), " +
        s"t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $W AS ws FROM planted), " +
        "b0 AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT))) AS bidx, ws FROM t), " +
        "b AS (SELECT doc_id, bidx, array_to_string(ws[bidx * 5 + 1 : bidx * 5 + 5], ' ') AS btext FROM b0), " +
        "k AS (SELECT doc_id, bidx, btext, " +
        "row_number() OVER (PARTITION BY btext ORDER BY doc_id, bidx) = 1 AS keep FROM b) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_blocks, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed, " +
        "COALESCE(string_agg(CASE WHEN keep THEN btext END, ' ' ORDER BY bidx), '') AS clean_text " +
        "FROM k GROUP BY doc_id ORDER BY doc_id")),

    // CCNet-style boilerplate: the SpanPlant rides every 10th doc, so
    // its blocks hit df ~ n/10 >> 3 and EVERY copy must go — including
    // the first, which spanDedup would keep
    Gate("dedup_boilerplate", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(lit(SpanPlant + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateDedup(planted, w = 5, maxDocs = 3).orderBy("doc_id")
    },
      // df-threshold replay: per-block distinct-doc counts on RAW block
      // text (a 64-bit key collision engine-side would fail this gate)
      Some(s"WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 " +
        s"THEN '$SpanPlant ' || text ELSE text END AS text FROM documents), " +
        s"t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $W AS ws FROM planted), " +
        "b0 AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT))) AS bidx, ws FROM t), " +
        "b AS (SELECT doc_id, bidx, array_to_string(ws[bidx * 5 + 1 : bidx * 5 + 5], ' ') AS btext FROM b0), " +
        "d AS (SELECT btext, count(DISTINCT doc_id) AS dfb FROM b GROUP BY btext), " +
        "k AS (SELECT b.doc_id, b.bidx, b.btext, d.dfb <= 3 AS keep FROM b JOIN d USING (btext)) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_blocks, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed, " +
        "COALESCE(string_agg(CASE WHEN keep THEN btext END, ' ' ORDER BY bidx), '') AS clean_text " +
        "FROM k GROUP BY doc_id ORDER BY doc_id")),

    // Lee et al. exact-substring dedup over the TOKEN table (sliding
    // 8-token windows, global first-wins, span-union cut). Plants make
    // the cut falsifiable in both directions: every 25th doc gets a
    // fixed 12-token PREFIX (cross-doc repeat — only the smallest
    // planted doc_id keeps it) and every 37th doc APPENDS its own
    // first 10 tokens (within-doc repeat — the appended copy is cut,
    // the original survives)
    Gate("dedup_substrings", (s, dir) => {
      val t = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id").cast("long") % 25 === 0,
            expr(s"concat($SubstrPlant, tokens)")).otherwise(col("tokens")).as("tokens"))
        .select(col("doc_id"),
          when(col("doc_id") % 37 === 0,
            expr("concat(tokens, slice(tokens, 1, 10))")).otherwise(col("tokens")).as("tokens"))
      Dedup.substringDedup(t, L = 8).orderBy("doc_id")
    },
      // exact-substring replay: windows grouped on RAW token text (an
      // md5-prefix window-key collision engine-side would fail this
      // gate); first occurrence by (doc_id, pos) survives, every other
      // occurrence's [pos, pos+8) positions are cut, clean_csv is the
      // surviving tokens in order
      Some(s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        s"list_transform($W, w -> CAST(list_position(${TokenTable.vocabDuckArray}, w) - 1 AS INT)) AS tk " +
        "FROM documents), " +
        s"p1 AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN $SubstrPlantDuck || tk ELSE tk END AS tk FROM tt), " +
        "p2 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN tk || tk[1:10] ELSE tk END AS toks FROM p1), " +
        "w AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM p2 WHERE len(toks) >= 8), " +
        "k AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ',') AS wtext FROM w), " +
        "d AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rn, " +
        "count(*) OVER (PARTITION BY wtext) AS n FROM k), " +
        "cut AS (SELECT doc_id, pos FROM d WHERE n > 1 AND rn > 1), " +
        "ag AS (SELECT doc_id, count(*) AS n_dup FROM cut GROUP BY doc_id), " +
        "cutpos AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS i FROM cut), " +
        "tk2 AS (SELECT doc_id, i, toks[i + 1] AS tok FROM " +
        "(SELECT doc_id, unnest(range(0, len(toks))) AS i, toks FROM p2)), " +
        "kept AS (SELECT tk2.doc_id, tk2.i, tk2.tok FROM tk2 LEFT JOIN cutpos c " +
        "ON c.doc_id = tk2.doc_id AND c.i = tk2.i WHERE c.doc_id IS NULL), " +
        "cl AS (SELECT doc_id, string_agg(CAST(tok AS VARCHAR), ',' ORDER BY i) AS clean_csv, " +
        "count(*) AS n_keep FROM kept GROUP BY doc_id) " +
        "SELECT p2.doc_id, CAST(len(p2.toks) AS INT) AS n_tok, " +
        "CAST(COALESCE(ag.n_dup, 0) AS INT) AS n_dup_windows, " +
        "CAST(len(p2.toks) - COALESCE(cl.n_keep, 0) AS INT) AS n_cut, " +
        "COALESCE(cl.clean_csv, '') AS clean_csv " +
        "FROM p2 LEFT JOIN ag USING (doc_id) LEFT JOIN cl USING (doc_id) ORDER BY doc_id")),

    Gate("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJ = 0.5).orderBy("id_a", "id_b"),
      Some(JaccardPairs)),

    // the 100 TB scale mode of the shingle join: stop-shingles in more
    // than maxShingleDocs docs are dropped BEFORE the self-join and J
    // is recomputed over the surviving universe on both sides. The cap
    // is SIZED TO THE CORPUS (max(2, |docs|/250) — the production knob
    // tracks expected df, which grows with corpus size on a fixed
    // vocabulary): at sf0.01 that is the old cap of 2, which drops
    // ~14% of the postings and CHANGES the answer vs exact mode (23
    // pairs vs 25), so the gate proves the capped semantics, not
    // accidentally the exact ones; at sf1 a fixed cap of 2 would drop
    // EVERY shingle (df ~ 80 on the 31-word vocab) and prove nothing
    Gate("dedup_ngram_capped", (s, dir) => {
      val d = docs(s, dir)
      val cap = math.max(2L, math.ceil(d.count() / 250.0).toLong)
      Dedup.ngramJaccardPairs(d, n = 3, minJ = 0.5, maxShingleDocs = cap)
        .orderBy("id_a", "id_b")
    },
      // capped mode: drop shingles with document frequency > 2, then
      // recompute per-doc counts and Jaccard over the SURVIVORS only —
      // the exact replay of ngramJaccardPairs(maxShingleDocs = 2)
      Some(s"WITH inv AS (SELECT doc_id, unnest(sh) AS g FROM $ShTable), " +
        "surv AS (SELECT doc_id, g FROM inv WHERE g IN " +
        "(SELECT g FROM inv GROUP BY g HAVING count(*) <= greatest(2, ceil((SELECT count(*) FROM documents) / 250.0)))), " +
        "cnt AS (SELECT doc_id, count(*) AS nsur FROM surv GROUP BY doc_id), " +
        "i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM surv a JOIN surv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (na.nsur + nb.nsur - inter), 6) AS jaccard " +
        "FROM i JOIN cnt na ON na.doc_id = id_a JOIN cnt nb ON nb.doc_id = id_b " +
        "WHERE inter::DOUBLE / (na.nsur + nb.nsur - inter) >= 0.5 ORDER BY id_a, id_b")),

    Gate("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), numPerms = 128, bands = 32, minJ = 0.5)
        .orderBy("id_a", "id_b"),
      Some(JaccardPairs)),

    Gate("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 16, minJ = 0.5)
        .orderBy("id_a", "id_b"),
      Some(JaccardPairs)),

    // incremental cross-corpus near-dedup: the released corpus is
    // doc_id % 3 != 0; the new batch is the % 3 == 0 docs (id+1e6)
    // PLUS planted exact copies of every 7th corpus doc (id+2e6), so
    // corpus-matches are guaranteed; new-new suppression covered by
    // the corpus's organic near-dup pairs falling across the split
    Gate("dedup_incremental", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val fresh = d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val copies = corpus.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      Dedup.dedupAgainst(fresh.unionByName(copies), corpus, minJ = 0.5)
        .orderBy("doc_id")
    },
      Some("WITH tagged AS (" +
        "SELECT CAST(doc_id AS BIGINT) AS id, text, true AS c FROM documents WHERE doc_id % 3 <> 0 " +
        "UNION ALL SELECT CAST(doc_id AS BIGINT) + 1000000 AS id, text, false AS c FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT CAST(doc_id AS BIGINT) + 2000000 AS id, text, false AS c " +
        "FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0), " +
        s"s AS (SELECT id, c, $Sh AS sh FROM (SELECT id, c, $W AS ws FROM tagged)), " +
        "e AS (SELECT id, c, unnest(sh) AS g, len(sh) AS n FROM s), " +
        "i AS (SELECT a.id AS id_a, a.c AS ca, b.id AS id_b, b.c AS cb, " +
        "count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb " +
        "FROM e a JOIN e b ON a.g = b.g AND a.id < b.id AND NOT (a.c AND b.c) " +
        "GROUP BY 1, 2, 3, 4), " +
        "p AS (SELECT id_a, ca, id_b, cb FROM i WHERE inter::DOUBLE / (na + nb - inter) >= 0.5), " +
        "ch AS (SELECT CASE WHEN ca AND NOT cb THEN id_b WHEN cb AND NOT ca THEN id_a ELSE id_b END AS doc_id, " +
        "(ca OR cb) AS vs_corpus FROM p), " +
        "agg AS (SELECT doc_id, CAST(sum(CASE WHEN vs_corpus THEN 1 ELSE 0 END) AS BIGINT) AS mc, " +
        "CAST(sum(CASE WHEN vs_corpus THEN 0 ELSE 1 END) AS BIGINT) AS mn FROM ch GROUP BY 1) " +
        "SELECT t.id AS doc_id, CAST(COALESCE(mc, 0) AS BIGINT) AS n_match_corpus, " +
        "CAST(COALESCE(mn, 0) AS BIGINT) AS n_match_new, " +
        "COALESCE(mc, 0) = 0 AND COALESCE(mn, 0) = 0 AS keep " +
        "FROM tagged t LEFT JOIN agg ON t.id = agg.doc_id WHERE NOT t.c ORDER BY doc_id")),

    Gate("dedup_clusters", (s, dir) =>
      Dedup.nearDupClusters(docs(s, dir), 0.5).orderBy("doc_id"),
      Some(s"WITH e AS (SELECT id_a AS a, id_b AS b FROM ($JaccardPairs) UNION SELECT id_b, id_a FROM ($JaccardPairs)), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r) " +
        "SELECT a AS doc_id, least(a, min(b)) AS cluster_rep, a = least(a, min(b)) AS keep " +
        "FROM reach GROUP BY a ORDER BY doc_id")),

    Gate("dedup_embedding_cosine", (s, dir) =>
      Dedup.cosinePairs(emb(s, dir), minCos = 0.44).orderBy("id_a", "id_b"),
      Some(s"SELECT id_a, id_b, round(c, 6) AS cos FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $Cos AS c " +
        s"FROM $Vecs a JOIN $Vecs b ON a.vec_id < b.vec_id) WHERE c >= 0.44 ORDER BY id_a, id_b")),

    // production-threshold LSH-mode cosine dedup: near-dups PLANTED by
    // a deterministic perturbation (cos ~ 0.9999 to the source vector),
    // sign-LSH bucket candidates + exact-cosine verify; the oracle is
    // the full all-pairs join at the same threshold, so the gate
    // falsifies both candidate recall and verify arithmetic
    Gate("dedup_embedding_lsh", (s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * 1.0001 + 0.001).as("v"))
      val corpus = base.union(planted).select(col("vec_id"), col("v").as("embedding"))
      Dedup.cosinePairsLsh(corpus, minCos = 0.99).orderBy("id_a", "id_b")
    },
      // same perturbation replayed in SQL; oracle = exact all-pairs at
      // the production threshold over base + planted
      Some(s"WITH planted AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(e, x -> x * 1.0001 + 0.001) AS e FROM " + Vecs + "), " +
        s"u AS (SELECT * FROM $Vecs UNION ALL SELECT * FROM planted) " +
        s"SELECT id_a, id_b, round(c, 6) AS cos FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $Cos AS c " +
        "FROM u a JOIN u b ON a.vec_id < b.vec_id) WHERE c >= 0.99 ORDER BY id_a, id_b")),

    // SemDeDup contract gate: n_emb and the exact-cosine pair count
    // are oracle-replayed; the learned-cell half is two in-plan
    // booleans — drops are sound (exact co-located partner exists)
    // and cells are complete (no kept-kept co-located exact pair)
    Gate("dedup_semantic", (s, dir) =>
      Semantic.semDedupGate(emb(s, dir), minCos = 0.44, nCells = 16),
      // the two counts replay exactly (same left-fold cosine as the
      // embedding-dedup oracles); the cell-dependent half arrives as
      // booleans asserted in-plan against the exact pair set
      Some(s"SELECT (SELECT count(*) FROM embeddings) AS n_emb, " +
        s"(SELECT count(*) FROM (SELECT a.vec_id, b.vec_id, $Cos AS c " +
        s"FROM $Vecs a JOIN $Vecs b ON a.vec_id < b.vec_id) WHERE c >= 0.44) AS n_exact_pairs, " +
        "TRUE AS sound_ok, TRUE AS complete_ok"))
  )
}
