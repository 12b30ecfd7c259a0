package graft.gates

import graft.agg.GraftFunctions._
import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Curation gates: URL canonicalization, domain filter and cap, the
  * composed curation pipeline, decontamination (batch and streaming
  * share one oracle), sampling, leak-free splits, packing, mixing,
  * epoch shuffles, target selection and the composed release
  * pipelines. */
object CurationGates {

  /** Deterministically planted URL per document (the corpus carries no
    * url column): scheme/host case, default and non-default ports, a
    * www. prefix, tracking params in every position, trailing slashes
    * and fragments all vary on co-prime doc_id residues, so every
    * normalization rule both fires and is falsifiable, and distinct
    * raw URLs collapse to shared canonical ones (real dedup). One
    * definition feeds both URL gates; the oracle replays it in SQL. */
  private def urlPlant: org.apache.spark.sql.Column =
    concat(
      when(col("doc_id") % 3 === 0, "HTTPS://")
        .when(col("doc_id") % 3 === 1, "https://").otherwise("http://"),
      when(col("doc_id") % 4 === 0, "WWW.News-Site.COM:443")
        .when(col("doc_id") % 4 === 1, "www.news-site.com")
        .when(col("doc_id") % 4 === 2, "Blog.Example.ORG")
        .otherwise("cdn.example.org:80"),
      lit("/Articles/"), (col("doc_id") % 25).cast("string"),
      when(col("doc_id") % 2 === 0, "/").otherwise(""),
      when(col("doc_id") % 5 === 0, "?utm_source=feed&utm_campaign=x&id=7")
        .when(col("doc_id") % 5 === 1, "?id=7&fbclid=AbC123")
        .when(col("doc_id") % 5 === 2, "?gclid=tr4ck").otherwise(""),
      when(col("doc_id") % 7 === 0, "#Section-2").otherwise(""))

  private val UrlPlantSql =
    "(CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'https://' ELSE 'http://' END) || " +
    "(CASE doc_id % 4 WHEN 0 THEN 'WWW.News-Site.COM:443' WHEN 1 THEN 'www.news-site.com' " +
    "WHEN 2 THEN 'Blog.Example.ORG' ELSE 'cdn.example.org:80' END) || " +
    "'/Articles/' || (doc_id % 25)::VARCHAR || " +
    "(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) || " +
    "(CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&utm_campaign=x&id=7' " +
    "WHEN 1 THEN '?id=7&fbclid=AbC123' WHEN 2 THEN '?gclid=tr4ck' ELSE '' END) || " +
    "(CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)"

  /** DuckDB replay of [[UrlOps.normalizeUrl]] over a column `url`:
    * same passes, same Java∩RE2 patterns, RE2 `\1` backrefs and
    * explicit 'g' flags where a pass must hit every occurrence. */
  private val UrlNormSqlSteps =
    (s"s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(url, '#.*', '', 'g'), " +
      s"'&${UrlOps.TrackerPattern}=[^&]*', '', 'g'), " +
      s"'[?]${UrlOps.TrackerPattern}=[^&]*&?', '?', 'g'), " +
      "'[?]$', '', 'g') AS u FROM planted), " +
      "s2 AS (SELECT doc_id, " +
      "regexp_replace(regexp_replace(regexp_replace(" +
      "lower(regexp_extract(u, '^[a-zA-Z]+://[^/?#]+')), " +
      "'^(https://[a-z0-9.-]+):443$', '\\1'), " +
      "'^(http://[a-z0-9.-]+):80$', '\\1'), " +
      "'^(https?://)www[.]', '\\1') || " +
      "regexp_replace(regexp_replace(regexp_replace(u, '^[a-zA-Z]+://[^/?#]+', ''), " +
      "'/+[?]', '?', 'g'), '/+$', '', 'g') AS url_norm FROM s1)")

  /** planted target-domain marker for pipeline_target_select: 18
    * distinct words -> 17 shared target-affine bigram features. */
  private val TargetPhrase =
    "zeta yotta exa peta tera giga mega kilo hecto deka deci centi milli micro nano pico femto atto"

  /** Exact SQL replay of the WHOLE release pipeline — curation
    * (quality gate, exact dedup, near-dup reachability clustering),
    * decontamination against the eval split, PII redaction,
    * stratified sampling, token-budget packing — one CTE per stage. */
  private def CorpusPrepOracle: String =
      ("WITH tr AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 100000 AS doc_id, text, source FROM documents WHERE doc_id % 7 <> 0), " +
        "q AS (SELECT doc_id, text, source, ws FROM " +
        s"(SELECT doc_id, text, source, $W AS ws FROM tr) " +
        "WHERE len(ws) BETWEEN 5 AND 2000 " +
        "AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.05 " +
        "AND list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws) BETWEEN 1.0 AND 20.0), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)), " +
        "d AS (SELECT q.* FROM q JOIN k USING (doc_id)), " +
        s"shd AS (SELECT doc_id, $Sh AS sh FROM (SELECT doc_id, ws FROM d)), " +
        "pg AS (SELECT doc_id, unnest(sh) AS g FROM shd), " +
        "pc AS (SELECT doc_id, len(sh) AS n FROM shd), " +
        "pi AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM pg a JOIN pg b " +
        "ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "p AS (SELECT ia, ib FROM pi JOIN pc ca ON ca.doc_id = pi.ia JOIN pc cb ON cb.doc_id = pi.ib " +
        "WHERE pi.i::DOUBLE / (ca.n + cb.n - pi.i) >= 0.5), " +
        "e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r), " +
        "reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a), " +
        "cur AS (SELECT d.* FROM d LEFT JOIN reps ON d.doc_id = reps.doc_id " +
        "WHERE reps.doc_id IS NULL OR reps.rep = d.doc_id), " +
        // decontamination: curated docs with ABOVE-MEDIAN distinct
        // trigram overlap vs the eval split are dropped (the gate's
        // scale-free threshold; quantile_cont == Spark's exact
        // percentile, both R-7 linear interpolation)
        s"te AS (SELECT DISTINCT unnest(sh) AS g FROM (SELECT doc_id, $Sh AS sh FROM " +
        s"(SELECT doc_id, $W AS ws FROM documents WHERE doc_id % 7 = 0))), " +
        "ti AS (SELECT c.doc_id, unnest(s.sh) AS g FROM cur c JOIN shd s ON c.doc_id = s.doc_id), " +
        "ov AS (SELECT ti.doc_id, count(DISTINCT ti.g) AS n FROM ti JOIN te ON ti.g = te.g GROUP BY ti.doc_id), " +
        "ovall AS (SELECT c.doc_id, COALESCE(ov.n, 0) AS n FROM cur c LEFT JOIN ov ON c.doc_id = ov.doc_id), " +
        "med AS (SELECT quantile_cont(n, 0.5) AS m FROM ovall), " +
        "clean AS (SELECT c.* FROM cur c JOIN ovall o ON c.doc_id = o.doc_id CROSS JOIN med WHERE o.n <= med.m), " +
        s"red AS (SELECT doc_id, source, ws, regexp_replace(regexp_replace(text, " +
        s"'${TextOps.EmailPattern}', '<EMAIL>', 'g'), '${TextOps.NumberPattern}', '<NUM>', 'g') AS text_clean FROM clean), " +
        "samp AS (SELECT * FROM (SELECT doc_id, source, text_clean, ws, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS nibble, " +
        "CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 12 ELSE 6 END AS INT) AS rate16 " +
        "FROM red) WHERE nibble < rate16), " +
        "lang AS (SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' " +
        "WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' ELSE 'zh' END AS lang_pred FROM (" +
        "SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM (" +
        s"SELECT doc_id, ${score("de")} AS s_de, ${score("en")} AS s_en, ${score("es")} AS s_es, " +
        s"${score("fr")} AS s_fr, ${score("zh")} AS s_zh FROM samp))), " +
        "packed AS (SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_tok, " +
        "CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT) ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok " +
        "FROM (SELECT source, doc_id, CAST(len(regexp_split_to_array(text_clean, '\\s+')) AS BIGINT) AS n_tok FROM samp)) " +
        "SELECT p.doc_id, p.source, l.lang_pred, p.n_tok, p.cum_tok, " +
        "CAST(floor((p.cum_tok - p.n_tok) / 4096.0) AS BIGINT) AS bin_id " +
        "FROM packed p JOIN lang l ON p.doc_id = l.doc_id ORDER BY p.doc_id")

  /** Exact n-gram-intersection replay shared by the batch and
    * streaming decontamination gates (identical by construction —
    * the operators share their scrub core). */
  private def DecontamOracle: String =
      (s"WITH te AS (SELECT DISTINCT unnest(sh) AS g FROM $ShTable WHERE doc_id % 7 = 0), " +
        s"ti AS (SELECT doc_id, unnest(sh) AS g FROM $ShTable WHERE doc_id % 7 <> 0), " +
        "ov AS (SELECT ti.doc_id, count(DISTINCT ti.g) AS n_overlap " +
        "FROM ti JOIN te ON ti.g = te.g GROUP BY ti.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap, " +
        "COALESCE(ov.n_overlap, 0) = 0 AS keep " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d " +
        "LEFT JOIN ov ON d.doc_id = ov.doc_id ORDER BY d.doc_id")

  /** Exact SQL replay of every curation stage (quality gate, exact
    * dedup, near-dup reachability clustering, lang/size metadata) —
    * shared by the exact-mode and LSH-mode pipeline gates. */
  private def CurationOracle: String =
      ("WITH q AS (SELECT doc_id, text, lang, ws FROM " +
        s"(SELECT doc_id, text, lang, $W AS ws FROM documents) " +
        "WHERE len(ws) BETWEEN 5 AND 2000 " +
        "AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.05 " +
        "AND list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws) BETWEEN 1.0 AND 20.0), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)), " +
        "d AS (SELECT q.* FROM q JOIN k USING (doc_id)), " +
        s"shd AS (SELECT doc_id, $Sh AS sh FROM (SELECT doc_id, ws FROM d)), " +
        "pg AS (SELECT doc_id, unnest(sh) AS g FROM shd), " +
        "pc AS (SELECT doc_id, len(sh) AS n FROM shd), " +
        "pi AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM pg a JOIN pg b " +
        "ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "p AS (SELECT ia, ib FROM pi JOIN pc ca ON ca.doc_id = pi.ia JOIN pc cb ON cb.doc_id = pi.ib " +
        "WHERE pi.i::DOUBLE / (ca.n + cb.n - pi.i) >= 0.5), " +
        "e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r), " +
        "reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a), " +
        "kept AS (SELECT d.doc_id, d.ws FROM d LEFT JOIN reps ON d.doc_id = reps.doc_id " +
        "WHERE reps.doc_id IS NULL OR reps.rep = d.doc_id) " +
        "SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' " +
        "WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' ELSE 'zh' END AS lang_pred, " +
        "CAST(len(ws) AS INT) AS n_words FROM (" +
        "SELECT doc_id, ws, s_de, s_en, s_es, s_fr, s_zh, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM (" +
        s"SELECT doc_id, ws, ${score("de")} AS s_de, ${score("en")} AS s_en, ${score("es")} AS s_es, " +
        s"${score("fr")} AS s_fr, ${score("zh")} AS s_zh FROM kept)) ORDER BY doc_id")

  val all: Seq[Gate] = Seq(
    // ---- URL curation ---------------------------------------------------
    // URL-level dedup — C4/CCNet's first pass: canonicalize the
    // (planted) URL and keep one doc per canonical form; the plant
    // exercises every normalization rule including the traps (a :443
    // port on an http URL must SURVIVE, parameter order and path case
    // must be preserved), and the oracle replays plant + the full
    // regex chain + the group-by in DuckDB
    Gate("dedup_url", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      UrlOps.dedupByUrl(planted).orderBy("url_norm")
    },
      Some(s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        " SELECT url_norm, min(doc_id) AS kept_doc_id, count(*) AS n_copies " +
        "FROM s2 GROUP BY url_norm ORDER BY url_norm")),

    // domain blocklist filtering — broadcast anti-join of the corpus
    // against a (tiny) blocked-domain list, keyed on the canonical
    // URL's registrable host; cdn.example.org appears in the plant so
    // the filter provably drops rows
    Gate("pipeline_domain_filter", (s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      val blocked = Seq("cdn.example.org", "spam.example.net").toDF("domain")
      UrlOps.filterBlockedDomains(planted, blocked)
        .select(col("doc_id").cast("long").as("doc_id"), col("domain"))
        .orderBy("doc_id")
    },
      Some(s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        " SELECT doc_id, domain FROM (SELECT doc_id, " +
        "regexp_extract(url_norm, '^[a-z]+://([^/:?]+)', 1) AS domain FROM s2) " +
        "WHERE domain NOT IN ('cdn.example.org', 'spam.example.net') ORDER BY doc_id")),

    // per-domain contribution cap — keep the 3 smallest-coin docs per
    // registrable domain via the mergeable exact top-k (partials carry
    // <=k rows per domain per map partition: skew-immune, unlike a
    // row_number window); the oracle replays the cap as the window it
    // provably equals
    Gate("pipeline_domain_cap", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      UrlOps.capPerDomain(planted, 3, expr(md5Coin("doc_id")))
        .orderBy("domain", "priority")
    },
      Some(s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        ", d AS (SELECT doc_id, regexp_extract(url_norm, '^[a-z]+://([^/:?]+)', 1) AS domain FROM s2), " +
        "r AS (SELECT domain, doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS priority, " +
        "row_number() OVER (PARTITION BY domain " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), CAST(doc_id AS VARCHAR)) AS rn FROM d) " +
        "SELECT domain, doc_id, priority FROM r WHERE rn <= 3 ORDER BY domain, priority")),

    // the composed curation pipeline: quality gate -> exact dedup ->
    // near-dup cluster dedup -> language/size metadata, end to end;
    // the oracle replays every stage in SQL
    Gate("pipeline_curation", (s, dir) =>
      Curation.curate(docs(s, dir), minJ = 0.5).orderBy("doc_id"),
      Some(CurationOracle)),

    // the SAME composed pipeline in its 100 TB mode: the near-dup
    // stage's candidate pairs come from MinHash banding instead of
    // the exact shingle self-join. Gated against the SAME exact-replay
    // oracle — banded recall ≈ 1 at these thresholds, so the survivor
    // set must match the exact pipeline's row for row
    Gate("pipeline_curation_lsh", (s, dir) =>
      Curation.curate(docs(s, dir), minJ = 0.5,
        pairSource = Curation.PairSource.Lsh(minJ = 0.5)).orderBy("doc_id"),
      // identical oracle: the LSH-mode pipeline must produce the SAME
      // survivors as the exact replay (banded recall ≈ 1 at minJ 0.5)
      Some(CurationOracle)),

    // train/eval decontamination: eval = every 7th doc, train = the
    // rest; per-train-doc distinct shared trigrams + strict keep rule.
    // The sbf prefilter is row-local with the sketch as a plan
    // literal; the oracle is the plain exact n-gram intersection —
    // identical results prove the prefilter loses nothing
    Gate("pipeline_decontam", (s, dir) => {
      val d = docs(s, dir)
      Decontam.overlap(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0),
        n = 3, maxOverlap = 0).orderBy("doc_id")
    },
      Some(DecontamOracle)),

    // the same scrub always-on: training docs arrive as a stream, the
    // eval set is static; per-batch literal-sketch prefilter + semi
    // join verify (stateless — no watermark, no state store),
    // changelog sink. SAME oracle as the batch operator: a doc's
    // n-grams ride in one row, so batch boundaries can't change the
    // answer
    Gate("stream_decontam", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsdc")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir)
      // seed write overlapped with the operator's static-side build
      // (independent jobs back-fill each other's idle cores)
      val seedF = alongside {
        d.filter(col("doc_id") % 7 =!= 0)
          .coalesce(2)
          .write.mode("overwrite").parquet(in)
      }
      graft.streaming.StreamDecontam.overlapStream(
        s, in, d.filter(col("doc_id") % 7 === 0),
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        n = 3, maxOverlap = 0, awaitInput = seedF)
        .orderBy("doc_id")
    },
      // streaming scrub must equal the batch operator exactly: the
      // SAME oracle string by construction
      Some(DecontamOracle)),

    // deterministic stratified sampling: even-numbered sources keep
    // 12/16 of their docs, odd keep 6/16, by the first md5 nibble of
    // the doc id — a row-local scan filter, reproducible across
    // engines (the oracle computes the identical coin)
    Gate("pipeline_sample_stratified", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("source"))
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 12).toMap
      DataShaping.stratifiedSample(d, evens, defaultRate16 = 6)
        .orderBy("doc_id")
    },
      Some("SELECT doc_id, source, nibble, rate16 FROM (" +
        "SELECT doc_id, source, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS nibble, " +
        "CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 12 ELSE 6 END AS INT) AS rate16 " +
        "FROM documents) WHERE nibble < rate16 ORDER BY doc_id")),

    // leakage-free train/val/test split: the coin is tossed on the
    // near-dup CLUSTER REP, so a doc and its near-copy can never
    // straddle train and eval. The pair source is the PRODUCTION
    // LSH-banded clustering (no df² shingle-join term — the exact
    // mode hits its documented wall at sf10), while the oracle
    // replays clusters from the EXACT Jaccard pairs via a recursive
    // CTE + the same rep-keyed nibble: banded recall ≈ 1 at minJ 0.5
    // (the pipeline_curation_lsh discipline), so the gate proves
    // LSH-mode labels reproduce the exact split doc-for-doc
    Gate("pipeline_split_leakfree", (s, dir) => {
      val d = docs(s, dir)
      val labels = Dedup.nearDupClustersLsh(d, 0.5)
      DataShaping.leakFreeSplit(d, labels).orderBy("doc_id")
    },
      Some(s"WITH e AS (SELECT id_a AS a, id_b AS b FROM ($JaccardPairs) UNION SELECT id_b, id_a FROM ($JaccardPairs)), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r), " +
        "lab AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a) " +
        "SELECT doc_id, rep, CASE WHEN nib < 12 THEN 'train' WHEN nib < 14 THEN 'val' ELSE 'test' END AS split FROM (" +
        "SELECT d.doc_id AS doc_id, coalesce(l.rep, d.doc_id) AS rep, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(coalesce(l.rep, d.doc_id) AS VARCHAR)), 1, 1)) - 1 AS INT) AS nib " +
        "FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id) ORDER BY doc_id")),

    // token-budget packing over the north-rule token table: per
    // source, doc_id order, bin = the 4096-token window the doc's
    // starting offset falls in — one window aggregate
    Gate("pipeline_pack_sequences", (s, dir) =>
      DataShaping.packSequences(TokenTable.load(s, dir), budget = 4096)
        .orderBy("source", "doc_id"),
      Some("SELECT source, doc_id, n_tok, cum_tok, CAST(floor((cum_tok - n_tok) / 4096.0) AS BIGINT) AS bin_id FROM (" +
        "SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(len($W) AS BIGINT) AS n_tok, " +
        s"CAST(SUM(CAST(len($W) AS BIGINT)) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT) " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM documents) ORDER BY source, doc_id")),

    // concat-then-split context chunking: per source, the token
    // stream cut into exact 512-token windows; per-doc offset range +
    // chunk span, boundary-straddling docs flagged (distributed
    // prefix sum, no per-source task serialization)
    Gate("pipeline_chunk_stream", (s, dir) =>
      DataShaping.chunkTokenStream(TokenTable.load(s, dir), ctx = 512)
        .orderBy("source", "doc_id"),
      Some("SELECT source, doc_id, n_tok, start_off, first_chunk, last_chunk, " +
        "last_chunk > first_chunk AS crosses_chunk FROM (" +
        "SELECT source, doc_id, n_tok, cum_tok - n_tok AS start_off, " +
        "(cum_tok - n_tok) // 512 AS first_chunk, (cum_tok - 1) // 512 AS last_chunk FROM (" +
        "SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(len($W) AS BIGINT) AS n_tok, " +
        s"CAST(SUM(CAST(len($W) AS BIGINT)) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT) " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM documents)) " +
        "ORDER BY source, doc_id")),

    // weighted top-n priority sampling (Duffield-Lund-Thorup) on the
    // integer 48-bit md5 coin: token-count-weighted sample of 64 docs
    // via TakeOrdered (no global sort), τ-threshold total-weight
    // estimator checked in-plan
    Gate("pipeline_sample_priority", (s, dir) =>
      DataShaping.prioritySample(TokenTable.load(s, dir), n = 64, weight = col("n_tok"))
        .orderBy("doc_id"),
      Some("WITH b AS (SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(len($W) AS BIGINT) AS w, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS u32 " +
        "FROM documents), " +
        "q AS (SELECT source, doc_id, w, (w * 4294967296) // u32 AS q FROM b WHERE w > 0), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rn FROM q), " +
        "tau AS (SELECT CASE WHEN max(rn) >= 65 THEN max(CASE WHEN rn = 65 THEN q END) " +
        "ELSE 0 END AS tau FROM r), " +
        "kept AS (SELECT source, doc_id, w, q, greatest(w, (SELECT tau FROM tau)) AS est_w " +
        "FROM r WHERE rn <= 64), " +
        "tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM q), " +
        "et AS (SELECT CAST(sum(est_w) AS BIGINT) AS est_total FROM kept) " +
        "SELECT source, doc_id, w, q, CAST(est_w AS BIGINT) AS est_w, " +
        "abs(est_total - w_total) * 100 <= w_total * 30 AS est_ok " +
        "FROM kept, tot, et ORDER BY doc_id")),

    // token-budget mixture sampling: even sources weighted 8, odd 1,
    // budget = 3/5 of corpus tokens — heavy sources hit the rate cap
    // (keep-all), light ones thin to their token target; rates are one
    // scale-free integer division, the coin the engine's 12-bit md5
    Gate("pipeline_mixture", (s, dir) => {
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 8L).toMap
      DataShaping.mixtureSample(TokenTable.load(s, dir), evens,
        budgetNum = 3, budgetDen = 5, defaultW = 1L)
        .orderBy("doc_id")
    },
      Some("WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
        s"CAST(len($W) AS INT) AS n_tok FROM documents), " +
        "wts AS (SELECT source, CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 " +
        "THEN 8 ELSE 1 END AS wt FROM (SELECT DISTINCT source FROM tt)), " +
        "act AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS actual FROM tt GROUP BY 1), " +
        "g AS (SELECT CAST(sum(actual) AS BIGINT) AS t, " +
        "(SELECT CAST(sum(wt) AS BIGINT) FROM wts) AS wsum FROM act), " +
        "r AS (SELECT act.source, CAST(least(4096, " +
        "(CAST(t AS HUGEINT) * 3 * wt * 4096) // (CAST(5 AS HUGEINT) * wsum * actual)) AS INT) AS rate4096 " +
        "FROM act JOIN wts USING (source) CROSS JOIN g) " +
        "SELECT source, doc_id, n_tok, rate4096, coin FROM " +
        "(SELECT *, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INT) AS coin FROM tt) " +
        "JOIN r USING (source) WHERE coin < rate4096 ORDER BY doc_id")),

    // α-temperature mixing at the exact-integer exponent: weights =
    // floor(sqrt(per-source token total)) (α = 1/2 — the Pile/LLaMA
    // flatten-big-sources knob), budget = half the corpus; the oracle
    // re-derives the weights, the rates AND every kept coin. Weights
    // derive from the SAME totals aggregation the sampler collects —
    // one corpus scan, not two
    Gate("pipeline_mixture_temp", (s, dir) =>
      DataShaping.mixtureSampleWith(TokenTable.load(s, dir),
        DataShaping.temperatureWeightsSqrt(_: Map[String, Long]),
        budgetNum = 1, budgetDen = 2)
        .orderBy("doc_id"),
      Some("WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
        s"CAST(len($W) AS INT) AS n_tok FROM documents), " +
        "act AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS actual FROM tt GROUP BY 1), " +
        "wts AS (SELECT source, CAST(floor(sqrt(actual)) AS BIGINT) AS wt FROM act), " +
        "g AS (SELECT CAST(sum(actual) AS BIGINT) AS t, " +
        "(SELECT CAST(sum(wt) AS BIGINT) FROM wts) AS wsum FROM act), " +
        "r AS (SELECT act.source, CAST(least(4096, " +
        "(CAST(t AS HUGEINT) * 1 * wt * 4096) // (CAST(2 AS HUGEINT) * wsum * actual)) AS INT) AS rate4096 " +
        "FROM act JOIN wts USING (source) CROSS JOIN g) " +
        "SELECT source, doc_id, n_tok, rate4096, coin FROM " +
        "(SELECT *, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INT) AS coin FROM tt) " +
        "JOIN r USING (source) WHERE coin < rate4096 ORDER BY doc_id")),

    // deterministic per-epoch global shuffle: epochs 1 and 2 rank the
    // corpus by md5(epoch:doc_id) — two different reproducible
    // permutations from the two-phase bucket-prefix ranking (no global
    // sort, no one-task window); the oracle replays the rank as a
    // plain row_number over the same key
    Gate("pipeline_epoch_shuffle", (s, dir) =>
      DataShaping.epochShuffle(docs(s, dir), epochs = Seq(1, 2))
        .orderBy("epoch", "pos"),
      Some("WITH k AS (SELECT epoch, CAST(doc_id AS BIGINT) AS doc_id, " +
        "md5(epoch || ':' || doc_id) AS skey " +
        "FROM (SELECT unnest([1, 2]) AS epoch) CROSS JOIN documents) " +
        "SELECT CAST(epoch AS INT) AS epoch, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos " +
        "FROM k ORDER BY epoch, pos")),

    // DSIR-style target-domain selection: src0 is the target domain;
    // a target phrase is PLANTED on every src0 doc and every 10th
    // pool doc, so the planted pool docs pick up strongly target-
    // affine hashed-bigram features (the unplanted rest score
    // symmetric noise around 0 — the synthetic corpus has no real
    // domain signal). Exact integer votes; the oracle rebuilds the
    // bucket model and replays every vote
    Gate("pipeline_target_select", (s, dir) => {
      val planted = docs(s, dir).select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        when(col("source") === "src0" || col("doc_id") % 10 === 0,
          concat(col("text"), lit(" " + TargetPhrase)))
          .otherwise(col("text")).as("text"))
      Selection.targetAffinity(planted, "src0").orderBy("doc_id")
    },
      Some("WITH planted AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
        "CASE WHEN source = 'src0' OR doc_id % 10 = 0 " +
        s"THEN text || ' $TargetPhrase' ELSE text END AS text FROM documents), " +
        s"t AS (SELECT doc_id, source, $W AS ws FROM planted), " +
        "g AS (SELECT doc_id, source, " +
        "unnest(list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])) AS gram " +
        "FROM t WHERE len(ws) >= 2), " +
        "gb AS (SELECT doc_id, source, CAST(concat('0x', substr(md5(gram), 1, 3)) AS INT) AS b FROM g), " +
        "model AS (SELECT b, " +
        "CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS t_b, " +
        "CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS s_b " +
        "FROM gb GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(t_b) AS HUGEINT) AS nt, CAST(sum(s_b) AS HUGEINT) AS ns FROM model), " +
        "v AS (SELECT doc_id, source, " +
        "CASE WHEN CAST(t_b AS HUGEINT) * ns > CAST(s_b AS HUGEINT) * nt THEN 1 " +
        "WHEN CAST(t_b AS HUGEINT) * ns < CAST(s_b AS HUGEINT) * nt THEN -1 ELSE 0 END AS vote " +
        "FROM gb JOIN model USING (b) CROSS JOIN tot WHERE source <> 'src0') " +
        "SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_feat, " +
        "CAST(sum(vote) AS BIGINT) AS score, CAST(sum(vote) AS BIGINT) > 0 AS keep " +
        "FROM v GROUP BY 1, 2 ORDER BY doc_id")),

    // ---- normalization-first release composition -------------------------
    // the failure mode Unicode normalization exists to prevent, as a
    // composed gate: two crawls of the SAME corpus arrive with
    // different encodings of identical text (crawl A precomposed NFC,
    // crawl B decomposed combining marks) — byte-level exact dedup
    // sees ZERO duplicates across them, so the release pipeline must
    // normalize FIRST, then dedup (collapsing every cross-crawl pair
    // to the lower id), then cut the per-source review sample with
    // the bottom-k md5 coin. Every stage is replayed by the oracle
    // (DuckDB's own nfc_normalize / md5-group-min / row_number), and
    // the in-plan dup count is a gated column: n_dups == n_docs means
    // normalization actually collapsed the encodings — skip the
    // normalize stage and the gate fails on every row.
    Gate("pipeline_release", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val shift = d.agg(max("doc_id")).collect()(0).getLong(0) + 1L
      val crawlA = d.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" r\u00E9sum\u00E9 fa\u00E7ade")).as("text"))
      val crawlB = d.select((col("doc_id") + shift).as("doc_id"), col("source"),
        concat(col("text"),
          lit(" re\u0301sume\u0301 fac\u0327ade")).as("text"))
      val union = crawlA.unionByName(crawlB)
      val normalized = union.select(col("doc_id"), col("source"),
        TextFunctions.nfc(col("text")).as("text"))
      // exact dedup over NORMALIZED bytes: min doc_id survives, so
      // every crawl-B replica drops iff normalization collapsed it
      // persisted: the minCopies action AND the sample plan both read
      // it — without the persist each would re-run the 2x-corpus
      // union + NFC + md5 + groupBy shuffle
      val survivors = normalized
        .withColumn("fp", md5(col("text")))
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"),
          min(col("source")).as("source"), count(lit(1)).as("n_copies"))
        .persist()
      // every text rides BOTH crawls, so after normalization no fp
      // group can be a singleton (natural intra-corpus duplicates
      // merge groups, which keeps the invariant); skip the normalize
      // stage and every group splits into singletons
      val minCopies = survivors.agg(min("n_copies")).collect()(0).getLong(0)
      // per-source review sample of the deduped release: bottom-4 by
      // the engine-reproducible md5 coin (the sample_uniform core)
      val coined = survivors
        .withColumn("coin", expr(md5Coin("doc_id")))
        .withColumn("neg", -col("coin"))
      coined.groupBy("source")
        .agg(topk_agg(col("neg"), col("doc_id").cast("string"), 4).as("sk"))
        .select(col("source"), posexplode(topk_items(col("sk"))).as(Seq("pos", "row")))
        .select(col("source"), (col("pos") + 1).as("rank"),
          col("row.item").cast("long").as("doc_id"), (-col("row.score")).as("coin"),
          lit(minCopies >= 2L).as("normalize_collapsed_all"))
        .orderBy("source", "rank")
    },
      Some("WITH d AS (SELECT doc_id, source, text FROM documents), " +
        "sh AS (SELECT max(doc_id) + 1 AS shift FROM d), " +
        "u AS (" +
        "SELECT doc_id, source, text || ' r' || chr(233) || 'sum' || chr(233) || ' fa' || chr(231) || 'ade' AS text FROM d " +
        "UNION ALL " +
        "SELECT doc_id + sh.shift AS doc_id, source, " +
        "text || ' re' || chr(769) || 'sume' || chr(769) || ' fac' || chr(807) || 'ade' AS text FROM d, sh), " +
        "n AS (SELECT doc_id, source, nfc_normalize(text) AS text FROM u), " +
        "surv AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id, min(source) AS source, " +
        "count(*) AS n_copies FROM n GROUP BY 1), " +
        "flag AS (SELECT min(n_copies) >= 2 AS ok FROM surv), " +
        "ranked AS (SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS coin, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM surv) " +
        "SELECT source, CAST(rank AS INT) AS rank, doc_id, coin, " +
        "flag.ok AS normalize_collapsed_all " +
        "FROM ranked, flag WHERE rank <= 4 ORDER BY source, rank")),

    // THE end-to-end corpus-prep composition a 100 TB release runs,
    // as ONE gate: curate (quality -> exact dedup -> LSH near-dup) ->
    // decontaminate vs the eval split -> redact PII -> stratified
    // sample -> pack into 4096-token bins, every stage the library
    // operator itself in its production (scale) mode, with a single
    // SQL oracle replaying the whole chain
    Gate("pipeline_corpus_prep", (s, dir) => {
      val d = docs(s, dir)
      val eval = d.filter(col("doc_id") % 7 === 0)
      // exact duplicates PLANTED (id-shifted copy of every train doc)
      // so the dedup stage is falsifiable, not a pass-through
      val trainBase = d.filter(col("doc_id") % 7 =!= 0)
      val train = trainBase.unionByName(
        trainBase.withColumn("doc_id", col("doc_id") + 100000))
      // the decontamination EVAL side (distinct eval grams + their
      // sketch) is independent of the whole curation chain — build it
      // on a second driver thread while curation runs
      val evalF = alongside {
        val g = Decontam.evalGrams(eval, 3).localCheckpoint()
        (g, Decontam.evalSketch(g))
      }
      val curated = Curation.curate(train, minJ = 0.5,
        pairSource = Curation.PairSource.Lsh(minJ = 0.5))
      // stage boundary: materialize the curation survivors ONCE
      // (eager localCheckpoint) — the median subquery, the decontam
      // semi join and the final write all branch from this frame, and
      // without the boundary each branch would replay the whole LSH
      // curation DAG (a production pipeline commits stage outputs to
      // the table store at exactly this point)
      val kept = train.select(col("doc_id").cast("long").as("doc_id"),
          col("text"), col("source"))
        .join(curated.select("doc_id", "lang_pred"), Seq("doc_id"))
        .localCheckpoint()
      // SCALE-FREE decontamination threshold: the corpus's own median
      // eval-overlap (exact percentile — one tiny agg — replayed by
      // the oracle's quantile_cont). A fixed absolute threshold can't
      // survive this 31-word vocab across scales: its ~30k-trigram
      // universe saturates as the corpus grows, so every doc overlaps
      // the eval split and a constant cutoff drops everything (sf1)
      // or nearly nothing (sf0.001); the median always splits ~half
      // second boundary: the overlap frame feeds both the median agg
      // (an eager driver action) and the clean-id semi join
      val (testG, evalSk) = evalF()
      val ovl = Decontam.scrubShingled(
          kept.select(col("doc_id"),
            TextFunctions.shingles(TextFunctions.words(col("text")), 3).as("sh")),
          evalSk, testG, maxOverlap = 0)
        .localCheckpoint()
      val med = Option(ovl.agg(expr("percentile(n_overlap, 0.5)")).head().get(0))
        .map(_.toString.toDouble).getOrElse(0.0)
      val cleanIds = ovl.filter(col("n_overlap") <= med)
        .select(col("doc_id").as("kept_id"))
      val clean = kept.join(cleanIds,
        kept("doc_id") === cleanIds("kept_id"), "left_semi")
      val redacted = clean.join(
        TextOps.redactPii(clean).select("doc_id", "text_clean"), Seq("doc_id"))
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 12).toMap
      val sampled = DataShaping.stratifiedSample(redacted, evens, defaultRate16 = 6)
      // what ships is the REDACTED text, so bins budget its tokens.
      // Third stage boundary: packSequences scans its input three
      // times (min/max bucket agg, phase-1 totals, phase-2 join) and
      // the lang_pred join reads it a fourth — checkpoint the SLIM
      // per-doc token table once (ids + counts, never text) so the
      // redact -> sample -> tokenize chain computes exactly once
      val withTok = sampled.withColumn("n_tok",
          expr("size(split(text_clean, '\\\\s+'))"))
        .select("doc_id", "source", "lang_pred", "n_tok")
        .localCheckpoint()
      DataShaping.packSequences(withTok, budget = 4096)
        .join(withTok.select("doc_id", "lang_pred"), Seq("doc_id"))
        .select("doc_id", "source", "lang_pred", "n_tok", "cum_tok", "bin_id")
        .orderBy("doc_id")
    },
      Some(CorpusPrepOracle))
  )
}
