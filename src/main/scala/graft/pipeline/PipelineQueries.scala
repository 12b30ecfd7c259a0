package graft.pipeline

import graft.agg.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-contract queries (and their DuckDB oracles) for the
 * training-data pipeline operators: dedup, similarity search,
 * multimodal plumbing, text analysis, and streaming sketch
 * maintenance. Merged into SparkEntry.queries / SparkEntry.oracleSql.
 *
 * Oracle philosophy: every deterministic value (ids, counts, hashes,
 * metadata, double-precision similarity computed with an identical
 * left-fold) is re-derived independently by DuckDB; probabilistic
 * internals (LSH bucketing, SimHash bands) are verified through their
 * CONTRACT — the verified output pairs equal the exact-similarity
 * pairs — plus boolean invariants computed Spark-side.
 */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** Ten corpus-vocabulary words = exactly two 5-token blocks — the
    * boilerplate paragraph dedup_spans plants on every 50th doc. */
  private val SpanPlant = "the quick scan row data merge hash join sort table"
  /** 12-token prefix planted on every 25th doc for dedup_substrings —
    * Spark array literal and the same list in DuckDB syntax. */
  private val SubstrPlantIds = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8)
  private val SubstrPlant = SubstrPlantIds.mkString("array(", ", ", ")")
  private val SubstrPlantDuck = SubstrPlantIds.mkString("[", ", ", "]")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Engine-reproducible sampling coin: the top 12 hex digits of
    * md5(<id as string>) read as a bigint — the ONE definition shared
    * by `sample_uniform` and `pipeline_release` (their oracles replay
    * the identical formula; a coin change edits this and the two SQL
    * strings, nothing else). */
  private def md5Coin(idCol: String): String =
    s"cast(conv(substring(md5(cast($idCol as string)), 1, 12), 16, 10) as bigint)"

  /** Pin ascending mtimes on the NEW parquet files under `in` (those
    * not in `exclude`), filename order from `base` — the streaming
    * gates' total control of file arrival order (the file source
    * batches by mtime); ONE definition for every staged-stream gate.
    * Returns the grown exclude set. */
  private def pinMtimes(in: String)(base: Long, exclude: Set[String]): Set[String] = {
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(in))
    val ps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try {
      val parts = listing.iterator()
      while (parts.hasNext) {
        val p = parts.next()
        if (p.toString.endsWith(".parquet") && !exclude.contains(p.toString)) ps += p
      }
    } finally listing.close()
    ps.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
    }
    exclude ++ ps.map(_.toString)
  }

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- URL curation ---------------------------------------------------

    // URL-level dedup — C4/CCNet's first pass: canonicalize the
    // (planted) URL and keep one doc per canonical form; the plant
    // exercises every normalization rule including the traps (a :443
    // port on an http URL must SURVIVE, parameter order and path case
    // must be preserved), and the oracle replays plant + the full
    // regex chain + the group-by in DuckDB
    "dedup_url" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      UrlOps.dedupByUrl(planted).orderBy("url_norm")
    }),

    // domain blocklist filtering — broadcast anti-join of the corpus
    // against a (tiny) blocked-domain list, keyed on the canonical
    // URL's registrable host; cdn.example.org appears in the plant so
    // the filter provably drops rows
    "pipeline_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      val blocked = Seq("cdn.example.org", "spam.example.net").toDF("domain")
      UrlOps.filterBlockedDomains(planted, blocked)
        .select(col("doc_id").cast("long").as("doc_id"), col("domain"))
        .orderBy("doc_id")
    }),

    // per-domain contribution cap — keep the 3 smallest-coin docs per
    // registrable domain via the mergeable exact top-k (partials carry
    // <=k rows per domain per map partition: skew-immune, unlike a
    // row_number window); the oracle replays the cap as the window it
    // provably equals
    "pipeline_domain_cap" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
      UrlOps.capPerDomain(planted, 3, expr(md5Coin("doc_id")))
        .orderBy("domain", "priority")
    }),

    // ---- text analysis --------------------------------------------------

    "text_lang_id" -> ((s, dir) =>
      TextOps.langId(docs(s, dir)).orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      TextOps.quality(docs(s, dir)).orderBy("doc_id")),

    "text_token_counts" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir)).orderBy("doc_id")),

    // classifier-inference plumbing: hashed bag-of-bigrams linear
    // score with a deterministic integer weight table, replayed
    // bucket-by-bucket in the oracle
    "text_quality_model" -> ((s, dir) =>
      TextOps.qualityModel(docs(s, dir)).orderBy("doc_id")),

    // one-pass per-source datacard: exact distinct-text counts and
    // char-volume totals, all integer columns. The plant re-emits
    // every 5th doc under a fresh id in its own source so n_dup_docs
    // is provably nonzero in every source
    "corpus_stats" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val planted = d.union(d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id") + 30000, col("text"), col("source")))
      TextOps.corpusStats(planted).orderBy("source")
    }),

    // per-doc novelty score over the token table: same 8-token
    // rolling windows and same prefix plant as dedup_substrings
    // (every 25th doc shares a planted 12-token prefix, so cross-doc
    // sharing is guaranteed and falsifiable); the oracle re-derives
    // windows from raw token text, so a window-key collision fails
    // the gate rather than hiding
    "text_novelty" -> ((s, dir) => {
      val t = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id").cast("long") % 25 === 0,
            expr(s"concat($SubstrPlant, tokens)")).otherwise(col("tokens")).as("tokens"))
      TextOps.novelty(t, L = 8).orderBy("doc_id")
    }),

    // corpus version diff audit: v2 removes every 13th doc, rewrites
    // every 11th surviving doc's text, and re-adds a copy of every
    // 17th doc under fresh ids (shifted by observed max+1, so the
    // plant is collision-free at every scale — the merge gates'
    // sf1 lesson); the oracle replays the v2 construction and the
    // digest full-outer-join independently
    "corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val shift = d.agg(max(col("doc_id"))).head().getLong(0) + 1
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"), col("source"))
        .union(d.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id") + shift, col("text"), col("source")))
      TextOps.corpusDiff(d, v2).orderBy("source")
    }),

    "text_fingerprints" -> ((s, dir) =>
      TextOps.fingerprints(docs(s, dir)).orderBy("doc_id")),

    // ---- source format: gzip JSONL round trip ---------------------------
    // corpora in the wild ship as (compressed) JSONL, not parquet: the
    // gate writes the documents table as gzip JSONL the way a crawl
    // pipeline would, reads it back through the JSON source with an
    // EXPLICIT schema (inference is a second full pass over 100 TB —
    // never pay it; .gz files are whole-file tasks, so the write keeps
    // the table's partition count as the file count), and emits
    // per-doc fidelity columns computed FROM the round-tripped rows.
    // The oracle computes the same columns from the parquet table, so
    // any loss in the JSON path — escaping, unicode, long/int
    // coercion, dropped rows — fails the row/hash compare.
    "source_jsonl" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = graft.util.Scratch.tempDir("graftjsonl")
      // the round-tripped frame reads this dir lazily, so it cannot be
      // deleted here; Scratch.tempDir's exit hook bounds the leak (the
      // gzip copy is a full documents-table replica — heavier scratch
      // than the streaming gates' checkpoints; ALL gate scratch now
      // goes through Scratch so no gate can forget the cleanup)
      val path = tmp.resolve("docs").toString
      d.write.mode("overwrite").option("compression", "gzip").json(path)
      s.read.schema(d.schema).json(path)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          length(col("text")).as("text_len"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // ---- source format: ORC round trip ----------------------------------
    // same fidelity contract as source_jsonl for the other columnar
    // format Spark ships: write the documents table as ORC, read it
    // back with the EXPLICIT schema, emit per-doc fidelity columns the
    // oracle recomputes from parquet — any loss in the ORC path
    // (encoding, nulls, long/int coercion, dropped rows) fails the
    // row/hash compare.
    "source_orc" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = graft.util.Scratch.tempDir("graftorc")
      val path = tmp.resolve("docs").toString
      d.write.mode("overwrite").orc(path)
      s.read.schema(d.schema).orc(path)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          length(col("text")).as("text_len"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // ---- source format: CSV round trip (quoting/escape/multiline) -------
    // the third wire format corpora ship in. The natural corpus is
    // CSV-benign (no commas, quotes, or newlines in text), so the
    // gate PLANTS all three on every 17th doc — the quoting, escape,
    // and multiline-record paths are what the fidelity hash tests;
    // the oracle replays plant + projection from parquet. Reading
    // uses the explicit schema (never infer over 100 TB) and
    // RFC-4180 doubled-quote escaping on both sides.
    "source_csv" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" x,\"q\"\ny")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      val tmp = graft.util.Scratch.tempDir("graftcsv")
      val path = tmp.resolve("docs").toString
      d.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(path)
      s.read.schema(d.schema)
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .csv(path)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          length(col("text")).as("text_len"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // ---- snapshot-table MERGE (copy-on-write upsert/delete) -------------
    // the table-maintenance verb between full rebuilds: seed a
    // snapshot, apply one deterministic change batch (deletes %13,
    // text updates %7, fresh inserts shifted past the id space), read
    // the NEW version back. The oracle replays survivor/update/insert
    // arithmetic from the raw table, so a row lost, doubled, or
    // half-updated by the merge fails the hash; version and
    // time-travel (v1 still readable and full-sized) ride as gated
    // columns. Merge cost = anti-join on broadcast change keys + the
    // CoW rewrite — nothing corpus-scale shuffles.
    "table_merge_upsert" -> ((s, dir) => {
      import graft.catalog.SketchTableIO
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val tmp = graft.util.Scratch.tempDir("graftmerge")
      val t = new SketchTableIO(s, tmp.toString)
      t.commit(d)
      // insert ids shifted past the OBSERVED id space (not a fixed
      // constant — scale decades replicate ids into the millions);
      // the oracle replays the shift as a scalar subquery
      val shift = d.agg(max("doc_id")).collect()(0).getLong(0) + 1L
      val changes =
        d.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), col("source"), col("text"), lit("delete").as("op"))
          .unionByName(
            d.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 7 === 0)
              .select(col("doc_id"), col("source"),
                upper(col("text")).as("text"), lit("upsert").as("op")))
          .unionByName(
            d.filter(col("doc_id") % 11 === 0)
              .select((col("doc_id") + shift).as("doc_id"),
                lit("crawl2").as("source"),
                concat(lit("new "), col("text")).as("text"),
                lit("upsert").as("op")))
      // the time-travel check reads only v1 — overlap it with the
      // merge's validation + CoW rewrite
      val v1OkF = scala.concurrent.Future {
        t.read(1).count() == d.count()
      }(scala.concurrent.ExecutionContext.global)
      val v2 = t.mergeCommit(changes, "doc_id")
      val v1Ok = scala.concurrent.Await.result(v1OkF, scala.concurrent.duration.Duration.Inf)
      t.read().select(col("doc_id"), col("source"),
          md5(col("text")).as("text_md5"),
          lit(v2).as("version"), lit(v1Ok).as("time_travel_ok"))
        .orderBy("doc_id")
    }),

    // ---- streaming CDC apply (merge-per-batch) ---------------------------
    // the always-on half of table_merge_upsert: three change batches
    // arrive as a stream (mtime-pinned file order), each micro-batch
    // is ONE copy-on-write commit. The sequence is ORDER-falsifiable:
    // batch 1 uppercases every %5 doc, batch 2 deletes the %10 docs,
    // batch 3 resurrects them with a 're ' prefix and inserts fresh
    // %9 docs past the id space — swap any two batches and the final
    // state (which the oracle replays as sequential SQL) changes.
    // Version count and time travel (the seed snapshot still intact
    // after three merges) ride as gated columns.
    "stream_merge_upsert" -> ((s, dir) => {
      import graft.catalog.SketchTableIO
      val tmp = graft.util.Scratch.tempDir("graftsmerge")
      val in = tmp.resolve("in").toString
      val root = tmp.resolve("table").toString
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      // the v1 corpus commit and the ordered seed writes are
      // independent job chains — overlap them (the drain needs both)
      val io0 = new SketchTableIO(s, root)
      val commitF = scala.concurrent.Future { io0.commit(d) }(
        scala.concurrent.ExecutionContext.global)
      val b1 = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"), upper(col("text")).as("text"),
          lit("upsert").as("op"))
      val b2 = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"), col("text"), lit("delete").as("op"))
      val b3 = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"),
          concat(lit("re "), col("text")).as("text"), lit("upsert").as("op"))
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") +
              (d.agg(max("doc_id")).collect()(0).getLong(0) + 1L)).as("doc_id"),
            lit("crawl2").as("source"),
            concat(lit("new "), col("text")).as("text"),
            lit("upsert").as("op")))
      b1.coalesce(1).write.mode("overwrite").parquet(in)
      val seen1 = pinMtimes(in)(1000000000000L, Set.empty)
      b2.coalesce(1).write.mode("append").parquet(in)
      val seen2 = pinMtimes(in)(2000000000000L, seen1)
      b3.coalesce(1).write.mode("append").parquet(in)
      pinMtimes(in)(3000000000000L, seen2)
      scala.concurrent.Await.result(commitF, scala.concurrent.duration.Duration.Inf)
      // the time-travel check reads only v1 (committed above) — it
      // runs concurrently with the merge drain
      val v1OkF = scala.concurrent.Future {
        io0.read(1).count() == d.count()
      }(scala.concurrent.ExecutionContext.global)
      val merged = graft.streaming.StreamMerge.applyChanges(
        s, in, root, "doc_id", tmp.resolve("cp").toString)
      val t = new SketchTableIO(s, root)
      val v1Ok = scala.concurrent.Await.result(v1OkF, scala.concurrent.duration.Duration.Inf)
      merged.select(col("doc_id"), col("source"),
          md5(col("text")).as("text_md5"),
          lit(t.currentVersion).as("version"), lit(v1Ok).as("time_travel_ok"))
        .orderBy("doc_id")
    }),

    // PII redaction over docs with deterministically PLANTED pii (the
    // synthetic corpus contains none — the plant makes the redaction
    // falsifiable); the oracle replays plant + scrub + counts exactly.
    // The plant covers the two audit-count traps: a MIXED-CASE email
    // (case-sensitive patterns would leak it) whose local part embeds
    // a >=6-digit run (must scrub as <EMAIL>, not count as <NUM>),
    // plus the same digit run standing alone (must count)
    "text_redact_pii" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or Ops.Team99887766@Example.COM ref 99887766 x"),
          col("doc_id") % 3).as("text"))
      TextOps.redactPii(planted).orderBy("doc_id")
    }),

    // Unicode normalization — the pass every corpus release runs
    // FIRST (visually-identical strings with different combining-mark
    // encodings slip every downstream exact-dedup/hash stage). The
    // natural corpus is pure ASCII, so the gate PLANTS both encodings
    // (combining acute/diaeresis AND a precomposed É) on every doc;
    // NFC length contraction, the NFC md5, the accent-stripped md5,
    // and NFC idempotence are all gated columns the oracle recomputes
    // with DuckDB's own utf8proc normalizer — two independent Unicode
    // implementations must agree byte-for-byte.
    "text_normalize" -> ((s, dir) => {
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
    }),

    // Gopher repetition stats over docs with deterministically PLANTED
    // repetition (every 40th doc gets ' spam' x30 appended — the
    // natural corpus is near-uniform, so without the plant the keep
    // rule would never fire and the gate couldn't falsify it); the
    // oracle replays the explode -> groupBy -> window form in SQL
    "text_repetition" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 40 === 0,
          concat(col("text"), expr("repeat(' spam', 30)")))
          .otherwise(col("text")).as("text"))
      TextOps.repetition(planted).orderBy("doc_id")
    }),

    // BPE merge training: R rounds of most-frequent-pair merging over
    // the word-frequency table (per-round cost O(|vocab|), corpus
    // touched once) — every round's argmax and count replayed exactly
    // by the oracle's CTE chain (Bpe.oracleSql)
    "text_bpe_train" -> ((s, dir) =>
      Bpe.train(docs(s, dir), rounds = 6).orderBy("round")),

    // the APPLY half of the tokenizer: train 6 merges, then encode
    // every document row-locally (merge table inlined as plan
    // literals — scan + 6 codegen'd replaces, zero shuffle); hashing
    // `encoded` forces the oracle to replay every merge, and the
    // decode(encode(x)) == normalize(x) round-trip is a gated COLUMN,
    // not a side assertion
    "text_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val m = Bpe.train(d, rounds = 6).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encode(d, m).orderBy("doc_id")
    }),

    // LM quality filtering (the CCNet pairing: boilerplate removal +
    // an LM trained on a trusted slice scoring the crawl): bigram LM
    // with add-one smoothing on refSource, rare-bigram rate per pool
    // doc in exact per-mille, keep at the corpus lower-median (a real
    // ~50% split — the decontam gate's median discipline); every
    // count, the rarity cross-multiplication, the per-mille floor,
    // and the median itself replay exactly in the oracle
    "text_lm_filter" -> ((s, dir) => {
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
    }),

    // ---- physical layout (shuffle-free joins, scan pruning) -------------

    // bucketed co-located join: both sides written hash-bucketed on
    // their join key — the shuffle is paid ONCE at write time and
    // amortizes over every later join. The fact⋈dim join then runs
    // with ZERO exchanges under the join node, pinned into the
    // oracle via the join_shuffles column (counted on the pre-AQE
    // physical plan, so AQE's runtime rewrites can't mask a shuffle)
    "q_bucketed_join" -> ((s, dir) => {
      val root = graft.util.Scratch.tempDir("bkt").toString
      Layout.writeBucketed(s.read.parquet(s"$dir/customer.parquet"),
        "graft_bkt_customer", s"$root/customer", "c_custkey", 8)
      Layout.writeBucketed(s.read.parquet(s"$dir/orders.parquet"),
        "graft_bkt_orders", s"$root/orders", "o_custkey", 8)
      val j = s.table("graft_bkt_customer").hint("merge")
        .join(s.table("graft_bkt_orders"), col("c_custkey") === col("o_custkey"))
      val shuffles = Layout.joinShuffles(j)
      j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("join_shuffles", lit(shuffles))
        .orderBy("c_mktsegment")
    }),

    // skew-safe salted shuffle join (the join-side complement of
    // q_skew_salted's two-phase agg): dim replicated per salt, fact
    // hash-split across salts, so a hot key runs on `salts` tasks.
    // Row-identical to the plain join — the oracle replays it plainly
    // — and both exchanges hashing on (key, salt) is pinned via the
    // salted_exchange column (clustering arity 2 on both sides)
    "q_salted_join" -> ((s, dir) => {
      val fact = s.read.parquet(s"$dir/orders.parquet")
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
      val j = Layout.saltedJoin(fact, dim, "o_custkey", 8)
      val arities = Layout.joinExchangeArities(j)
      val salted = arities.nonEmpty && arities.forall(_ == 2)
      j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("salted_exchange", lit(salted))
        .orderBy("c_mktsegment")
    }),

    // hive-style directory partitioning: an equality predicate on the
    // partition column prunes at PLAN time — directories for the
    // other 19 sources are never opened or read. Evidence (non-empty
    // partitionFilters on every scan AND the executed scan's numFiles
    // metric equal to the one selected directory's file count) is
    // part of the gated answer
    "q_partition_prune" -> ((s, dir) => {
      val root = graft.util.Scratch.tempDir("hivep").toString
      Layout.writeHivePartitioned(docs(s, dir), root, "source")
      val r = s.read.parquet(root).filter(col("source") === "src7")
      val dirFiles = new java.io.File(s"$root/source=src7").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val pruned = Layout.usesPartitionFilter(r) &&
        Layout.scannedFiles(r) == dirFiles
      r.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"))
        .withColumn("partition_pruned", lit(pruned))
        .orderBy("lang")
    }),

    // sorted-shard zone maps: range-partition + sort-within by time,
    // so parquet row-group min/max stats line up with the predicate
    // axis and a pushed range filter skips whole row groups — scan
    // cost ∝ selected range, not table size. The gate pins that both
    // range bounds actually REACHED the reader (PushedFilters); the
    // row-group-skip ratio itself is spec-measured (LayoutSpec)
    "q_zonemap_prune" -> ((s, dir) => {
      val root = graft.util.Scratch.tempDir("zmap").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
        // ts is TIMESTAMP_NTZ; session TZ is UTC, so the cast is identity
        .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
      Layout.writeSortedShards(ev, root, "ts_ms", 8)
      val lo = 1704844800000L // 2024-01-10T00:00:00Z
      val hi = 1705017600000L // 2024-01-12T00:00:00Z
      val r = s.read.parquet(root)
        .filter(col("ts_ms") >= lo && col("ts_ms") < hi)
      val pushed = {
        val fs = Layout.pushedFilters(r)
        fs.nonEmpty && fs.forall(f =>
          f.contains("GreaterThanOrEqual(ts_ms") && f.contains("LessThan(ts_ms"))
      }
      r.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("value_mils"))
        .withColumn("range_pushed", lit(pushed))
        .orderBy("event_type")
    }),

    // z-order (Morton) layout: one layout serving BOTH query axes.
    // Events are range-partitioned + sorted by the interleaved bits of
    // (ts bucket, user bucket), so every row group is a rectangle in
    // (ts, user) space and min/max zone maps stay tight on both
    // columns — a user-band predicate (the axis a ts-sorted layout
    // CANNOT prune: every ts-shard spans all users, uncorrelated by
    // construction) skips most row groups. Evidence in the gated
    // answer: the band bounds reached the reader (PushedFilters) and
    // the executed scan emitted ≤60% of the table for a ~25% band
    // (cross_axis_pruned). The answer itself is layout-independent
    // and replayed plainly by the oracle.
    "q_zorder_layout" -> ((s, dir) => {
      val root = graft.util.Scratch.tempDir("zord").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
      val mm = ev.agg(min("ts_ms"), max("ts_ms"), min("user_id"), max("user_id"))
        .collect()(0)
      val (tsMin, tsMax) = (mm.getLong(0), mm.getLong(1))
      val (uMin, uMax) = (mm.getLong(2), mm.getLong(3))
      def bucket(c: org.apache.spark.sql.Column, mn: Long, mx: Long) =
        (c - mn) * 256L / (mx - mn + 1L)
      Layout.writeZOrdered(ev, root,
        bucket(col("ts_ms"), tsMin, tsMax),
        bucket(col("user_id"), uMin, uMax), bits = 8, shards = 16)
      // quarter band in the middle of the user range — the cross axis
      val span = uMax - uMin + 1L
      val (uLo, uHi) = (uMin + span / 2, uMin + span / 2 + span / 4)
      val r = s.read.parquet(root)
        .filter(col("user_id") >= uLo && col("user_id") < uHi)
      val pushed = {
        val fs = Layout.pushedFilters(r)
        fs.nonEmpty && fs.forall(f =>
          f.contains("GreaterThanOrEqual(user_id") && f.contains("LessThan(user_id"))
      }
      val scanned = Layout.scanOutputRows(r)
      val crossPruned = scanned * 10 <= ev.count() * 6
      r.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("value_mils"))
        .withColumn("range_pushed", lit(pushed))
        .withColumn("cross_axis_pruned", lit(crossPruned))
        .orderBy("event_type")
    }),

    // parquet BLOOM FILTER pushdown — the reference's own data
    // structure serving scan pruning: on a high-cardinality UNSORTED
    // column, row-group min/max stats span the whole value space
    // (nothing skips), but a per-row-group bloom filter answers
    // "definitely not here" for an equality probe and the reader
    // skips the group without touching its pages. Written with
    // parquet.bloom.filter.enabled on the key column, 16 key-hashed
    // files; the point lookup must scan ≤1/4 of the table (expected
    // ~1/16) — pinned with the pushed-EqualTo evidence into the
    // oracle-checked answer. The no-bloom control (stats alone skip
    // nothing) is spec-measured (LayoutSpec).
    "q_parquet_bloom" -> ((s, dir) => {
      val root = graft.util.Scratch.tempDir("pqbloom").toString
      val d = docs(s, dir).withColumn("key", md5(col("text")))
      d.repartition(16, col("key")).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#key", "true")
        .option("parquet.bloom.filter.expected.ndv#key", "1000000")
        .parquet(root)
      val probeKey = d.filter(col("doc_id") === 42)
        .select("key").collect()(0).getString(0)
      val r = s.read.parquet(root).filter(col("key") === probeKey)
      val pushed = {
        val fs = Layout.pushedFilters(r)
        fs.nonEmpty && fs.forall(_.contains("EqualTo(key"))
      }
      val scanned = Layout.scanOutputRows(r)
      val pruned = scanned * 4 <= d.count()
      r.select(col("doc_id"), col("source"), col("key"),
          lit(pushed).as("eq_pushed"), lit(pruned).as("bloom_pruned"))
        .orderBy("doc_id")
    }),

    // ---- dedup ----------------------------------------------------------

    // exact dedup demonstrated on a corpus with real duplicates:
    // documents unioned with an id-shifted copy of itself
    "dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val dup = d.union(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exactDedup(dup).orderBy("kept_doc_id")
    }),

    // cross-source duplication overlap matrix — the audit run before
    // choosing mixture weights: per source pair, the number of
    // distinct texts present in both. The plant mirrors every 7th doc
    // into a 'mirror_'-prefixed source, so every (srcK, mirror_srcK)
    // cell is provably nonzero and the oracle replays the full
    // digest-join independently
    "dedup_source_overlap" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val planted = d.union(d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 20000, col("text"),
          concat(lit("mirror_"), col("source")).as("source")))
      Dedup.sourceOverlap(planted).orderBy("source_a", "source_b")
    }),

    // C4-style exact span dedup (5-token blocks, global first-wins)
    // on docs with a PLANTED shared boilerplate paragraph (two blocks
    // prepended to every 50th doc — the cross-document repeated span
    // document-level dedup can't see); natural within/cross-doc block
    // collisions are covered by the oracle grouping on raw block text
    "dedup_spans" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 50 === 0,
          concat(lit(SpanPlant + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.spanDedup(planted, w = 5).orderBy("doc_id")
    }),

    // CCNet-style boilerplate: the SpanPlant rides every 10th doc, so
    // its blocks hit df ~ n/10 >> 3 and EVERY copy must go — including
    // the first, which spanDedup would keep
    "dedup_boilerplate" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(lit(SpanPlant + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateDedup(planted, w = 5, maxDocs = 3).orderBy("doc_id")
    }),

    // Lee et al. exact-substring dedup over the TOKEN table (sliding
    // 8-token windows, global first-wins, span-union cut). Plants make
    // the cut falsifiable in both directions: every 25th doc gets a
    // fixed 12-token PREFIX (cross-doc repeat — only the smallest
    // planted doc_id keeps it) and every 37th doc APPENDS its own
    // first 10 tokens (within-doc repeat — the appended copy is cut,
    // the original survives)
    "dedup_substrings" -> ((s, dir) => {
      val t = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id").cast("long") % 25 === 0,
            expr(s"concat($SubstrPlant, tokens)")).otherwise(col("tokens")).as("tokens"))
        .select(col("doc_id"),
          when(col("doc_id") % 37 === 0,
            expr("concat(tokens, slice(tokens, 1, 10))")).otherwise(col("tokens")).as("tokens"))
      Dedup.substringDedup(t, L = 8).orderBy("doc_id")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJ = 0.5).orderBy("id_a", "id_b")),

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
    "dedup_ngram_capped" -> ((s, dir) => {
      val d = docs(s, dir)
      val cap = math.max(2L, math.ceil(d.count() / 250.0).toLong)
      Dedup.ngramJaccardPairs(d, n = 3, minJ = 0.5, maxShingleDocs = cap)
        .orderBy("id_a", "id_b")
    }),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), numPerms = 128, bands = 32, minJ = 0.5)
        .orderBy("id_a", "id_b")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 16, minJ = 0.5)
        .orderBy("id_a", "id_b")),

    // incremental cross-corpus near-dedup: the released corpus is
    // doc_id % 3 != 0; the new batch is the % 3 == 0 docs (id+1e6)
    // PLUS planted exact copies of every 7th corpus doc (id+2e6), so
    // corpus-matches are guaranteed; new-new suppression covered by
    // the corpus's organic near-dup pairs falling across the split
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val fresh = d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val copies = corpus.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      Dedup.dedupAgainst(fresh.unionByName(copies), corpus, minJ = 0.5)
        .orderBy("doc_id")
    }),

    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(docs(s, dir), 0.5).orderBy("doc_id")),

    "dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.cosinePairs(emb(s, dir), minCos = 0.44).orderBy("id_a", "id_b")),

    // production-threshold LSH-mode cosine dedup: near-dups PLANTED by
    // a deterministic perturbation (cos ~ 0.9999 to the source vector),
    // sign-LSH bucket candidates + exact-cosine verify; the oracle is
    // the full all-pairs join at the same threshold, so the gate
    // falsifies both candidate recall and verify arithmetic
    "dedup_embedding_lsh" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * 1.0001 + 0.001).as("v"))
      val corpus = base.union(planted).select(col("vec_id"), col("v").as("embedding"))
      Dedup.cosinePairsLsh(corpus, minCos = 0.99).orderBy("id_a", "id_b")
    }),

    // the composed curation pipeline: quality gate -> exact dedup ->
    // near-dup cluster dedup -> language/size metadata, end to end;
    // the oracle replays every stage in SQL
    "pipeline_curation" -> ((s, dir) =>
      Curation.curate(docs(s, dir), minJ = 0.5).orderBy("doc_id")),

    // the SAME composed pipeline in its 100 TB mode: the near-dup
    // stage's candidate pairs come from MinHash banding instead of
    // the exact shingle self-join. Gated against the SAME exact-replay
    // oracle — banded recall ≈ 1 at these thresholds, so the survivor
    // set must match the exact pipeline's row for row
    "pipeline_curation_lsh" -> ((s, dir) =>
      Curation.curate(docs(s, dir), minJ = 0.5,
        pairSource = Curation.PairSource.Lsh(minJ = 0.5)).orderBy("doc_id")),

    // train/eval decontamination: eval = every 7th doc, train = the
    // rest; per-train-doc distinct shared trigrams + strict keep rule.
    // The sbf prefilter is row-local with the sketch as a plan
    // literal; the oracle is the plain exact n-gram intersection —
    // identical results prove the prefilter loses nothing
    "pipeline_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontam.overlap(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0),
        n = 3, maxOverlap = 0).orderBy("doc_id")
    }),

    // deterministic stratified sampling: even-numbered sources keep
    // 12/16 of their docs, odd keep 6/16, by the first md5 nibble of
    // the doc id — a row-local scan filter, reproducible across
    // engines (the oracle computes the identical coin)
    "pipeline_sample_stratified" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("source"))
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 12).toMap
      DataShaping.stratifiedSample(d, evens, defaultRate16 = 6)
        .orderBy("doc_id")
    }),

    // leakage-free train/val/test split: the coin is tossed on the
    // near-dup CLUSTER REP, so a doc and its near-copy can never
    // straddle train and eval. The pair source is the PRODUCTION
    // LSH-banded clustering (no df² shingle-join term — the exact
    // mode hits its documented wall at sf10), while the oracle
    // replays clusters from the EXACT Jaccard pairs via a recursive
    // CTE + the same rep-keyed nibble: banded recall ≈ 1 at minJ 0.5
    // (the pipeline_curation_lsh discipline), so the gate proves
    // LSH-mode labels reproduce the exact split doc-for-doc
    "pipeline_split_leakfree" -> ((s, dir) => {
      val d = docs(s, dir)
      val labels = Dedup.nearDupClustersLsh(d, 0.5)
      DataShaping.leakFreeSplit(d, labels).orderBy("doc_id")
    }),

    // token-budget packing over the north-rule token table: per
    // source, doc_id order, bin = the 4096-token window the doc's
    // starting offset falls in — one window aggregate
    "pipeline_pack_sequences" -> ((s, dir) =>
      DataShaping.packSequences(TokenTable.load(s, dir), budget = 4096)
        .orderBy("source", "doc_id")),

    // concat-then-split context chunking: per source, the token
    // stream cut into exact 512-token windows; per-doc offset range +
    // chunk span, boundary-straddling docs flagged (distributed
    // prefix sum, no per-source task serialization)
    "pipeline_chunk_stream" -> ((s, dir) =>
      DataShaping.chunkTokenStream(TokenTable.load(s, dir), ctx = 512)
        .orderBy("source", "doc_id")),

    // weighted top-n priority sampling (Duffield-Lund-Thorup) on the
    // integer 48-bit md5 coin: token-count-weighted sample of 64 docs
    // via TakeOrdered (no global sort), τ-threshold total-weight
    // estimator checked in-plan
    "pipeline_sample_priority" -> ((s, dir) =>
      DataShaping.prioritySample(TokenTable.load(s, dir), n = 64, weight = col("n_tok"))
        .orderBy("doc_id")),

    // token-budget mixture sampling: even sources weighted 8, odd 1,
    // budget = 3/5 of corpus tokens — heavy sources hit the rate cap
    // (keep-all), light ones thin to their token target; rates are one
    // scale-free integer division, the coin the engine's 12-bit md5
    "pipeline_mixture" -> ((s, dir) => {
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 8L).toMap
      DataShaping.mixtureSample(TokenTable.load(s, dir), evens,
        budgetNum = 3, budgetDen = 5, defaultW = 1L)
        .orderBy("doc_id")
    }),

    // α-temperature mixing at the exact-integer exponent: weights =
    // floor(sqrt(per-source token total)) (α = 1/2 — the Pile/LLaMA
    // flatten-big-sources knob), budget = half the corpus; the oracle
    // re-derives the weights, the rates AND every kept coin. Weights
    // derive from the SAME totals aggregation the sampler collects —
    // one corpus scan, not two
    "pipeline_mixture_temp" -> ((s, dir) =>
      DataShaping.mixtureSampleWith(TokenTable.load(s, dir),
        DataShaping.temperatureWeightsSqrt(_: Map[String, Long]),
        budgetNum = 1, budgetDen = 2)
        .orderBy("doc_id")),

    // deterministic per-epoch global shuffle: epochs 1 and 2 rank the
    // corpus by md5(epoch:doc_id) — two different reproducible
    // permutations from the two-phase bucket-prefix ranking (no global
    // sort, no one-task window); the oracle replays the rank as a
    // plain row_number over the same key
    "pipeline_epoch_shuffle" -> ((s, dir) =>
      DataShaping.epochShuffle(docs(s, dir), epochs = Seq(1, 2))
        .orderBy("epoch", "pos")),

    // DSIR-style target-domain selection: src0 is the target domain;
    // a target phrase is PLANTED on every src0 doc and every 10th
    // pool doc, so the planted pool docs pick up strongly target-
    // affine hashed-bigram features (the unplanted rest score
    // symmetric noise around 0 — the synthetic corpus has no real
    // domain signal). Exact integer votes; the oracle rebuilds the
    // bucket model and replays every vote
    "pipeline_target_select" -> ((s, dir) => {
      val planted = docs(s, dir).select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        when(col("source") === "src0" || col("doc_id") % 10 === 0,
          concat(col("text"), lit(" " + TargetPhrase)))
          .otherwise(col("text")).as("text"))
      Selection.targetAffinity(planted, "src0").orderBy("doc_id")
    }),

    // THE end-to-end corpus-prep composition a 100 TB release runs,
    // as ONE gate: curate (quality -> exact dedup -> LSH near-dup) ->
    // decontaminate vs the eval split -> redact PII -> stratified
    // sample -> pack into 4096-token bins, every stage the library
    // operator itself in its production (scale) mode, with a single
    // SQL oracle replaying the whole chain
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
    "pipeline_release" -> ((s, dir) => {
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
    }),

    "pipeline_corpus_prep" -> ((s, dir) => {
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
      val evalF = scala.concurrent.Future {
        val g = Decontam.evalGrams(eval, 3).localCheckpoint()
        (g, Decontam.evalSketch(g))
      }(scala.concurrent.ExecutionContext.global)
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
      val (testG, evalSk) =
        scala.concurrent.Await.result(evalF, scala.concurrent.duration.Duration.Inf)
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
    }),

    // the same scrub always-on: training docs arrive as a stream, the
    // eval set is static; per-batch literal-sketch prefilter + semi
    // join verify (stateless — no watermark, no state store),
    // changelog sink. SAME oracle as the batch operator: a doc's
    // n-grams ride in one row, so batch boundaries can't change the
    // answer
    "stream_decontam" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsdc")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir)
      // seed write overlapped with the operator's static-side build
      // (independent jobs back-fill each other's idle cores)
      val seedF = scala.concurrent.Future {
        d.filter(col("doc_id") % 7 =!= 0)
          .coalesce(2)
          .write.mode("overwrite").parquet(in)
      }(scala.concurrent.ExecutionContext.global)
      graft.streaming.StreamDecontam.overlapStream(
        s, in, d.filter(col("doc_id") % 7 === 0),
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        n = 3, maxOverlap = 0, awaitInput = () =>
          scala.concurrent.Await.result(seedF, scala.concurrent.duration.Duration.Inf))
        .orderBy("doc_id")
    }),

    // always-on incremental near-dedup: the fresh crawl (same planted
    // split as dedup_incremental) streams in and scrubs against the
    // static released corpus through the SAME corpusMatches core;
    // corpus-only contract (intra-crawl suppression is the batch
    // compaction job's half), stateless per doc so batching can't
    // change any answer
    "stream_dedup_incremental" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsdi")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val fresh = d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      val seedF = scala.concurrent.Future {
        fresh.coalesce(2)
          .write.mode("overwrite").parquet(in)
      }(scala.concurrent.ExecutionContext.global)
      graft.streaming.StreamDedupIncremental.scrubStream(
        s, in, corpus,
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        minJ = 0.5, awaitInput = () =>
          scala.concurrent.Await.result(seedF, scala.concurrent.duration.Duration.Inf))
        .orderBy("doc_id")
    }),

    // always-on exact-substring scrub: fresh pre-tokenized docs
    // (reversed corpus tokens under shifted ids — mostly corpus-clean)
    // stream in; every 4th doc carries a planted 10-token corpus
    // prefix whose windows must be cut, so the scrub is falsifiable in
    // both directions. Same cut core as dedup_substrings.
    "stream_substring_scrub" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsss")
      val in = tmp.resolve("in").toString
      val corpus = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("tokens"))
      val fresh = corpus
        .select((col("doc_id") + 100000L).as("doc_id"),
          when(col("doc_id") % 4 === 0,
            expr("concat(slice(tokens, 1, 10), reverse(tokens))"))
            .otherwise(reverse(col("tokens"))).as("tokens"))
      val seedF = scala.concurrent.Future {
        fresh.coalesce(2)
          .write.mode("overwrite").parquet(in)
      }(scala.concurrent.ExecutionContext.global)
      graft.streaming.StreamSubstringScrub.scrubStream(
        s, in, corpus,
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        L = 8, awaitInput = () =>
          scala.concurrent.Await.result(seedF, scala.concurrent.duration.Duration.Inf))
        .orderBy("doc_id")
    }),

    // ---- KMV set-operation sketches -------------------------------------

    // bottom-k distinct sketch per source over word trigrams: the kth
    // hash and the integer estimate are BYTE-EXACT oracle values (MD5
    // + 48-bit integer estimator); the accuracy bound makes the
    // estimator falsifiable (k=64 => ~12.7% standard error; the 40%
    // bound is ~3 sigma)
    "kmv_distinct_sources" -> ((s, dir) => {
      import graft.sketch.Kmv
      val k = 64
      val grams = docs(s, dir).select(col("source"),
        explode(TextFunctions.shingles(TextFunctions.words(col("text")), 3)).as("gram"))
        .distinct()
      val rows = grams.groupBy("source")
        .agg(kmv_agg(col("gram"), k).as("sk"), countDistinct(col("gram")).as("n_exact"))
        .collect()
        .map { r =>
          val sk = Kmv.deserialize(r.getAs[Array[Byte]]("sk"))
          val exact = r.getAs[Long]("n_exact")
          val est = sk.estimate
          (r.getString(0), exact, Option(sk.kthHash), est,
            math.abs(est - exact) * 5 <= exact * 2)
        }
      import s.implicits._
      rows.toSeq.toDF("source", "n_exact", "kth_hash", "est", "est_ok")
        .orderBy("source")
    }),

    // KMV set operations across source pairs: the union sketch's
    // bottom-k is a uniform sample of the union, so the shared-hash
    // count is an exact-integer Jaccard estimator (theta-sketch
    // intersection, Beyer et al. 2007). Exact |A∩B|/|A∪B| computed
    // distributed; only |sources| sketch blobs reach the driver.
    "kmv_set_ops" -> ((s, dir) => {
      import graft.sketch.Kmv
      val k = 64
      // the gram set feeds three actions (sketches, sizes, and BOTH
      // sides of the pair-intersection self-join) — one materialized
      // explode+distinct instead of four replays
      val grams = docs(s, dir).select(col("source"),
        explode(TextFunctions.shingles(TextFunctions.words(col("text")), 3)).as("gram"))
        .distinct()
        .localCheckpoint(true)
      // sketches + sizes in ONE aggregation job (grams rows are
      // already distinct, so count(*) per source IS the distinct
      // size), overlapped with the pair-intersection job on a second
      // driver thread — both read the materialized gram table
      val skSzF = scala.concurrent.Future {
        grams.groupBy("source")
          .agg(kmv_agg(col("gram"), k).as("sk"), count(lit(1)).as("n"))
          .collect()
      }(scala.concurrent.ExecutionContext.global)
      val a = grams.select(col("source").as("sa"), col("gram"))
      val b = grams.select(col("source").as("sb"), col("gram"))
      val inters = a.join(b, "gram").where(col("sa") < col("sb"))
        .groupBy("sa", "sb").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val skSz = scala.concurrent.Await.result(skSzF, scala.concurrent.duration.Duration.Inf)
      val sketches: Map[String, Kmv] =
        skSz.map(r => r.getString(0) -> Kmv.deserialize(r.getAs[Array[Byte]]("sk"))).toMap
      val sizes: Map[String, Long] = skSz.map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
      val srcs = sketches.keys.toSeq.sorted
      val out = for {
        i <- srcs.indices; j <- (i + 1) until srcs.size
        sa = srcs(i); sb = srcs(j)
      } yield {
        val inter = inters.getOrElse((sa, sb), 0L)
        val uni = sizes(sa) + sizes(sb) - inter
        val u = Kmv.union(sketches(sa), sketches(sb))
        val nShared = Kmv.sharedInUnion(sketches(sa), sketches(sb)).toLong
        val denom = math.min(k.toLong, u.size.toLong)
        val jEst = 1000L * nShared / denom
        val jExact = 1000L * inter / uni
        (sa, sb, inter, uni, nShared, jEst, jExact, math.abs(jEst - jExact) <= 250L)
      }
      import s.implicits._
      out.toDF("src_a", "src_b", "n_inter", "n_union", "n_shared",
        "j_milli_est", "j_milli_exact", "est_ok").orderBy("src_a", "src_b")
    }),

    // KMV set DIFFERENCE (theta-sketch A-not-B): "how many distinct
    // grams does the fresh crawl add to the released corpus?" — the
    // incremental-ingest sizing question. The union sample's hashes
    // are membership-tested against each side's sketch (exact over
    // the sample, Kmv.onlyInFirst scaladoc), so the novelty fraction
    // and the absolute estimate are exact-integer pipelines the SQL
    // oracle replays byte-for-byte; the 250-milli bound is ~4 sigma
    // at k=64 over any true fraction.
    "kmv_difference" -> ((s, dir) => {
      import graft.sketch.Kmv
      val k = 64
      val grams = docs(s, dir).select(col("doc_id"),
        explode(TextFunctions.shingles(TextFunctions.words(col("text")), 3)).as("gram"))
      // each side feeds THREE actions (sketch, count, except) —
      // persist the shingle-distinct once per side instead of paying
      // the explode+distinct shuffle six times
      val corpusG = grams.filter(col("doc_id") % 3 =!= 0).select("gram").distinct().persist()
      val crawlG = grams.filter(col("doc_id") % 3 === 0).select("gram").distinct().persist()
      // sketch + size in ONE agg per side (rows are distinct, so
      // count(*) is the distinct size), the two sides in parallel
      // driver threads; the except runs after on the warm caches
      def aggOf(g: DataFrame) = scala.concurrent.Future {
        val r = g.agg(kmv_agg(col("gram"), k).as("sk"), count(lit(1)).as("n")).head()
        (Kmv.deserialize(r.getAs[Array[Byte]]("sk")), r.getAs[Long]("n"))
      }(scala.concurrent.ExecutionContext.global)
      val (aF, bF) = (aggOf(corpusG), aggOf(crawlG))
      val (skCorpus, nCorpus) =
        scala.concurrent.Await.result(aF, scala.concurrent.duration.Duration.Inf)
      val (skCrawl, nCrawl) =
        scala.concurrent.Await.result(bF, scala.concurrent.duration.Duration.Inf)
      val nNew = crawlG.except(corpusG).count()
      corpusG.unpersist()
      crawlG.unpersist()
      val nUnion = nCorpus + nCrawl - (nCrawl - nNew)
      val u = Kmv.union(skCorpus, skCrawl)
      val nNewSample = Kmv.onlyInFirst(skCrawl, skCorpus).toLong
      val denom = math.min(k.toLong, u.size.toLong)
      val uEst = u.estimate
      val dMilliEst = 1000L * nNewSample / denom
      val dMilliExact = 1000L * nNew / nUnion
      val dAbsEst = nNewSample * uEst / denom
      import s.implicits._
      Seq((nCorpus, nCrawl, nUnion, nNew, nNewSample, dMilliEst, dMilliExact,
        dAbsEst, math.abs(dMilliEst - dMilliExact) <= 250L,
        math.abs(dAbsEst - nNew) * 4 <= nUnion + 64L))
        .toDF("n_corpus", "n_crawl", "n_union", "n_new", "n_new_sample",
          "d_milli_est", "d_milli_exact", "d_abs_est", "est_ok", "est_abs_ok")
    }),

    // Bloom fill-ratio cardinality (Swamidass & Baldi 2007) on MERGED
    // filters: distributed/cross-source OR-merge preserves the bit
    // array exactly but the header `count` sums partial counts —
    // shared keys double-count, so the merged counter is NOT the
    // union cardinality. The estimate -(m/k)*ln(1 - X/m) reads it
    // back from the bits alone, order- and partition-independent.
    // Capacity scales with the corpus (40 grams/doc expectation) so
    // the union filter sits at a meaningful fill at every sf; the
    // 5%+50 bound is >>4 sigma for this estimator below saturation.
    "bloom_union_estimate" -> ((s, dir) => {
      import graft.sketch.BloomFilter
      val d = docs(s, dir)
      val cap = 40L * d.count()
      // one distinct-gram materialization feeds both distributed aggs
      // eager materialization, then BOTH sketch jobs in parallel
      // driver threads (each reads the materialized gram table)
      val grams = d.select(col("source"),
        explode(TextFunctions.shingles(TextFunctions.words(col("text")), 3)).as("gram"))
        .distinct().localCheckpoint()
      // plain count beside the sketch agg is ONE pass (only a
      // DISTINCT aggregate would force the per-(source, gram) plan)
      val perSrcF = scala.concurrent.Future {
        grams.groupBy("source").agg(
          bloom_agg(col("gram"), cap, 0.01).as("sk"), count(lit(1)).as("n_exact"))
          .collect()
          .map(r => (r.getString(0),
            BloomFilter.deserialize(r.getAs[Array[Byte]]("sk")), r.getAs[Long]("n_exact")))
          .sortBy(_._1)
      }(scala.concurrent.ExecutionContext.global)
      val directRow = grams.select("gram").distinct()
        .agg(bloom_agg(col("gram"), cap, 0.01).as("d"), count(lit(1)).as("n_exact"))
        .collect()(0)
      val perSrc = scala.concurrent.Await.result(perSrcF, scala.concurrent.duration.Duration.Inf)
      val direct = BloomFilter.deserialize(directRow.getAs[Array[Byte]]("d"))
      val nUnionExact = directRow.getAs[Long]("n_exact")
      def estOk(est: Long, n: Long): Boolean = math.abs(est - n) * 20 <= n + 1000L
      // cross-source OR-merge: bits are exact, the header counter sums
      val merged = perSrc.map(_._2.copyFilter()).reduce(_.orInPlace(_))
      val rows =
        perSrc.map { case (src, sk, n) =>
          (src, n, estOk(sk.estimateItems, n), true)
        }.toSeq :+
        (("*union*", nUnionExact, estOk(merged.estimateItems, nUnionExact),
          merged.estimateItems == direct.estimateItems))
      import s.implicits._
      rows.toDF("scope", "n_exact", "est_ok", "merge_ok").orderBy("scope")
    }),

    // uniform per-source k-sample WITHOUT a shuffle-the-world sort:
    // bottom-k by the engine's md5 coin as a mergeable TopK aggregate
    // (partials carry k rows per partition; two-level rollup must
    // equal the direct sketch — exactness under re-aggregation as the
    // oracle-checked rollup_ok). The k smallest hash values of
    // distinct keys ARE a uniform sample without replacement, and the
    // coin is replayed by the oracle, so the sample is row-exact
    // across engines — the "eyeball a random slice per source" step
    // of a corpus release, at any scale.
    "sample_uniform" -> ((s, dir) => {
      val k = 4
      val d = docs(s, dir).select(col("source"), col("lang"),
        col("doc_id").cast("string").as("doc_id"))
        .withColumn("coin", expr(md5Coin("doc_id")))
        .withColumn("neg", -col("coin"))
      val direct = d.groupBy("source")
        .agg(topk_agg(col("neg"), col("doc_id"), k).as("sk"))
      val rolled = d.groupBy("source", "lang")
        .agg(topk_agg(col("neg"), col("doc_id"), k).as("psk"))
        .groupBy("source").agg(topk_merge_agg(col("psk")).as("sk2"))
      direct.join(rolled, "source")
        .select(col("source"),
          posexplode(topk_items(col("sk"))).as(Seq("pos", "row")),
          (topk_items(col("sk")) === topk_items(col("sk2"))).as("rollup_ok"))
        .select(col("source"), (col("pos") + 1).as("rank"),
          col("row.item").as("doc_id"), (-col("row.score")).as("coin"),
          col("rollup_ok"))
        .orderBy("source", "rank")
    }),

    // exact top-k per group as a MERGEABLE aggregate: partials carry
    // k rows per partition (never the group), and the two-level
    // rollup (per-(source,lang) partials topk_merge_agg'd per source)
    // must equal the direct per-source sketch — exactness under
    // re-aggregation, pinned as the oracle-checked rollup_ok column.
    // Deterministic (score DESC, item ASC), so a row_number() window
    // replays it byte-exactly
    "topk_per_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val direct = d.groupBy("source")
        .agg(topk_agg(col("n_chars"), col("doc_id"), 3).as("sk"))
      val rolled = d.groupBy("source", "lang")
        .agg(topk_agg(col("n_chars"), col("doc_id"), 3).as("psk"))
        .groupBy("source").agg(topk_merge_agg(col("psk")).as("sk2"))
      direct.join(rolled, "source")
        .select(col("source"),
          posexplode(topk_items(col("sk"))).as(Seq("pos", "row")),
          (topk_items(col("sk")) === topk_items(col("sk2"))).as("rollup_ok"))
        .select(col("source"), (col("pos") + 1).as("rank"),
          col("row.score").as("n_chars"), col("row.item").as("doc_id"),
          col("rollup_ok"))
        .orderBy("source", "rank")
    }),

    // ---- similarity search ----------------------------------------------

    "ann_brute_topk" -> ((s, dir) =>
      Ann.bruteTopK(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "rank")),

    // falsifiable recall floors (0.9): a floor near zero only asserts
    // non-emptiness. Measured (deterministic hyperplanes/centroids):
    // LSH mean recall@10 = 0.97-0.98 with every query >= 0.9; IVF mean
    // 0.94-1.0 across sf0.001/0.01/0.1
    "ann_lsh_topk" -> ((s, dir) =>
      Ann.lshTopK(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9).orderBy("q_id")),

    "ann_ivf_topk" -> ((s, dir) =>
      Ann.ivfTopK(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9).orderBy("q_id")),

    // raw approximate paths (no recall harness): what a user's query
    // actually costs — rows-only gate (no SQL oracle can replay LSH
    // buckets / quantizer cells); quality is gated by the _topk pair
    "ann_lsh_topk_raw" -> ((s, dir) =>
      Ann.lshTopKRaw(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "n_id")),

    "ann_ivf_topk_raw" -> ((s, dir) =>
      Ann.ivfTopKRaw(emb(s, dir), nQueries = 10, k = 10).orderBy("q_id", "n_id")),

    // IVF-SQ8: cell-pruned candidate set over int8 postings (the
    // float vectors never ride the search), mean-recall gated against
    // the exact float answer like the float IVF tier
    "ann_ivf_quantized" -> ((s, dir) =>
      Quantize.ivfTopKQuantized(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.9)),

    // SemDeDup contract gate: n_emb and the exact-cosine pair count
    // are oracle-replayed; the learned-cell half is two in-plan
    // booleans — drops are sound (exact co-located partner exists)
    // and cells are complete (no kept-kept co-located exact pair)
    "dedup_semantic" -> ((s, dir) =>
      Semantic.semDedupGate(emb(s, dir), minCos = 0.44, nCells = 16)),

    // ---- int8 quantized embeddings (the 4x storage/scan-IO tier) --------

    // vector-grain audit: the full quantized vector is hashed (CSV
    // rendering), its exact integer moments replay, and the
    // |q - v*127/amax| <= 0.5 reconstruction bound is asserted per
    // component in-plan
    "embedding_quantize_int8" -> ((s, dir) =>
      Quantize.int8Audit(emb(s, dir))),

    // quantized brute top-k with a FULLY-REPLAYED recall harness:
    // unlike the LSH/IVF gates (whose bucket internals no SQL can
    // replay), the oracle recomputes the quantization, the integer
    // dots, the quantized ranking AND the exact float ranking, so
    // n_hit (the recall numerator) is hash-checked, not asserted.
    // Measured: n_hit >= 9/10 on every query at sf0.001-0.1
    "ann_quantized_topk" -> ((s, dir) =>
      Quantize.topKQuantized(emb(s, dir), nQueries = 10, k = 10, recallFloor = 0.8)),

    // ---- sparse retrieval (inverted index + BM25) -----------------------

    // queries = every 50th doc's first-8-words term SET (scoring is
    // set-of-terms, so order never enters the contract); fixed-point
    // micros make the summed scores exact integers on both sides
    "retrieval_bm25" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"),
          slice(TextFunctions.words(col("text")), 1, 8).as("terms"))
      Retrieval.bm25(d, qs, k = 10).orderBy("q_id", "rank")
    }),

    // the same scoring always-on: queries arrive as a stream, the
    // corpus index is the static cached side (build-once posting
    // lists + term stats); stateless per query, so the oracle is the
    // batch operator's oracle verbatim
    "stream_retrieval" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsrt")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir)
      val seedF = scala.concurrent.Future {
        d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("q_id"),
            slice(TextFunctions.words(col("text")), 1, 8).as("terms"))
          // repartition, not coalesce: coalesce(2) collapses the whole
          // corpus scan + filter into 2 tasks; the round-robin exchange
          // moves only the ~2% surviving query rows (r6 A/B: 6.0 -> 5.5 s)
          .repartition(2)
          .write.mode("overwrite").parquet(in)
      }(scala.concurrent.ExecutionContext.global)
      graft.streaming.StreamRetrieval.bm25Stream(
        s, in, d, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        k = 10, awaitInput = () =>
          scala.concurrent.Await.result(seedF, scala.concurrent.duration.Duration.Inf))
        .orderBy("q_id", "rank")
    }),

    // ---- multimodal -----------------------------------------------------

    // every kind is a REAL container with a real pure-JVM codec:
    // P5 PGM images, RIFF PCM16 WAVs, mono Y4M video streams. The
    // oracle re-derives pixels / signed samples / per-frame planes
    // independently from the source text and checks decoded-VALUE
    // statistics (min/max/sum), not just container metadata
    "multimodal_decode" -> ((s, dir) => {
      val decoded = Multimodal.decode(s, Multimodal.synthesize(s, docs(s, dir)))
      decoded.toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_payload_bytes"), col("n_frames"), col("checksum"),
          size(col("feat")).as("feat_dim"),
          col("px_min"), col("px_max"), col("px_sum"))
        .orderBy("doc_id")
    }),

    // resize then decode: PGM images AND every Y4M frame are REALLY
    // resampled (nearest neighbor, integer index math) — the oracle
    // replays the resample and checks the resulting pixels; audio has
    // no spatial dimensions, so the resize passes WAV rows through
    // and the oracle expects their original decode
    "multimodal_transform" -> ((s, dir) => {
      val media = Multimodal.resize(s, Multimodal.synthesize(s, docs(s, dir)), 32, 24)
      Multimodal.decode(s, media).toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_payload_bytes"), col("checksum"),
          col("px_min"), col("px_max"), col("px_sum"))
        .orderBy("doc_id")
    }),

    // frame sampling: every 2nd REAL Y4M frame of video streams
    // (n_bytes = the frame's plane size), single frame 0 (first 256
    // payload bytes) for other kinds; per-frame checksums
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.synthesize(s, docs(s, dir)), 2)
        .toDF().orderBy("doc_id", "frame_idx")),

    // ---- streaming ------------------------------------------------------

    "stream_sketch_incremental" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstream")
      val in = tmp.resolve("in").toString
      val cp = tmp.resolve("cp").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      // one-shot batch sketches materialize concurrently with the drain
      val batchF = scala.concurrent.Future {
        graft.streaming.SketchStream.batchSketches(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.SketchStream.runIncremental(s, in, cp)
      graft.streaming.SketchStream.compareSketches(streamed,
          scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
        .select(col("source"), (col("n_batches") > 1).as("multi_batch_ok"),
          col("rows_ok"), col("bloom_ok"), col("hll_ok"))
        .orderBy("source")
    }),

    // always-on heavy hitters: per-batch Misra–Gries partials merged
    // into catalog-sized state; the mergeable-summaries guarantee
    // must hold against exact per-token truth no matter how the
    // stream was batched
    "stream_freq_heavy_hitters" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftfreq")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      val batchF = scala.concurrent.Future {
        graft.streaming.SketchStream.batchFreqTruth(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.SketchStream.runIncrementalFreq(
        s, in, tmp.resolve("cp").toString)
      graft.streaming.SketchStream.compareFreq(streamed,
        scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
    }),

    // always-on exact top-k: per-batch TopK partials merged into
    // k-row running state; exactness under arbitrary batch
    // boundaries means the drained ranks are DuckDB-replayable row
    // for row (stronger than the heavy-hitter contract gate)
    "stream_topk" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("grafttopk")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      graft.streaming.SketchStream.runIncrementalTopK(
        s, in, tmp.resolve("cp").toString)
        .orderBy("source", "rank")
    }),

    // the always-on updater committing every micro-batch merge to a
    // VERSIONED sketch table (no driver collect; batch_id-idempotent
    // commits): final snapshot == one-shot batch, history monotone
    "stream_sketch_table" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstb")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      val io = new graft.catalog.SketchTableIO(s, tmp.resolve("table").toString)
      val batchF = scala.concurrent.Future {
        graft.streaming.SketchStream.batchSketches(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.SketchStream.runIncrementalToTable(
        s, in, tmp.resolve("cp").toString, io)
      val growth = (1L to io.currentVersion).map(v =>
        io.read(v).agg(sum(col("n_rows"))).head().getLong(0))
      val monotone = growth.zip(growth.tail).forall { case (a, b) => a <= b }
      graft.streaming.SketchStream.compareSketches(streamed,
          scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
        .select(col("source"), (col("n_batches") > 1).as("multi_version_ok"),
          lit(monotone).as("history_monotone"),
          col("rows_ok"), col("bloom_ok"), col("hll_ok"))
        .orderBy("source")
    }),

    // watermarked event-time windows + Catalyst sketch agg in streaming;
    // final upserts must equal the one-shot batch windowed aggregation
    "stream_windowed_hll" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftwin")
      val in = tmp.resolve("in").toString
      // time-ordered files: the file source replays them in path order,
      // so event time advances like a real stream and the watermark
      // never drops on-time data (a time-shuffled replay WOULD drop —
      // that's the watermark doing its job)
      s.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(in)
      // the file source replays in MODIFICATION-TIME order, and parallel
      // write tasks finish in arbitrary order — pin mtimes to path order
      // so the replay follows event time (range partition 0 = earliest)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      val sorted = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (parts.hasNext) { val p = parts.next(); if (p.toString.endsWith(".parquet")) sorted += p }
      sorted.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      // 4 state partitions: proportionate to the gate corpus (the
      // stream_interval_join precedent); exact operator, so the
      // answer is partitioning-invariant
      val batchF = scala.concurrent.Future {
        graft.streaming.WindowedSketch.batchWindowed(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.WindowedSketch.windowedHll(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareWindowed(streamed,
        scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
    }),

    // streaming exact dedup: dropDuplicates state across micro-batches;
    // originals replay strictly before their duplicates (two write
    // phases with pinned mtimes), so first-arrived == lowest doc_id ==
    // the batch operator's keep rule, exactly
    "stream_dedup_exact" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsdedup")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      d.repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(in)
      val phase1 = pinMtimes(in)(1000000000000L, Set.empty)
      d.select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("append").parquet(in)
      pinMtimes(in)(2000000000000L, phase1) // only the NEW (dup) files move later
      val dup = d.union(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      // one file per trigger: the corpus can contain internal exact
      // duplicates, and two clique members in different files of the
      // SAME micro-batch would race on who reaches the dedup state
      // first — file-at-a-time replay makes arrival order total
      // the batch keep rule reads the SOURCE table, not the seed —
      // materialize it concurrently with the drain
      val batchF = scala.concurrent.Future {
        Dedup.exactDedup(dup).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.StreamDedup.dedupExact(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        maxFilesPerTrigger = 1, statePartitions = 4)
      val batchKept =
        scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf)
      streamed.join(batchKept, Seq("fp"))
        .select(col("fp"), col("kept_doc_id"),
          (col("doc_id") === col("kept_doc_id")).as("stream_matches_batch"),
          (col("n_batches") > 1).as("multi_batch_ok"))
        .orderBy("kept_doc_id")
    }),

    // horizon-bounded streaming dedup: dropDuplicatesWithinWatermark
    // over a pinned one-file-per-trigger replay — the kept set is
    // fully deterministic (drop inside the 30m horizon, re-admit after
    // state expiry + the eviction-at-commit lag), so the oracle is the
    // exact expected keep set
    "stream_dedup_watermark" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val tmp = graft.util.Scratch.tempDir("graftwmd")
      val in = tmp.resolve("in")
      java.nio.file.Files.createDirectories(in)
      // UTC-anchored instants: Timestamp.valueOf would interpret the
      // wall time in the JVM default zone, breaking the oracle's UTC
      // string rendering on a non-UTC host
      def hour(h: Int, m: Int) = java.sql.Timestamp.from(
        java.time.LocalDateTime.of(2026, 1, 1, h, m, 0)
          .toInstant(java.time.ZoneOffset.UTC))
      val rows = Seq(
        (1L, "alpha text", hour(10, 0)),
        (2L, "alpha text", hour(10, 5)),   // in-horizon dup -> dropped
        (3L, "filler doc", hour(11, 10)),
        (4L, "filler two", hour(11, 15)),  // batch wm 10:40 -> alpha evicted at commit
        (5L, "alpha text", hour(11, 30)))  // re-admitted after expiry
      rows.zipWithIndex.foreach { case ((id, text, ts), i) =>
        val stage = tmp.resolve(s"stage$i")
        Seq((id, text, ts)).toDF("doc_id", "text", "ts")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = java.nio.file.Files.list(stage).iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) {
            val dst = in.resolve(f"file$i%03d.parquet")
            java.nio.file.Files.copy(p, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
          }
        }
      }
      graft.streaming.StreamDedup.dedupWithinWatermark(s, in.toString,
          tmp.resolve("cp").toString, tmp.resolve("out").toString,
          tsCol = "ts", delay = "30 minutes", statePartitions = 4)
        .select(col("doc_id"), col("ts").cast("string").as("event_ts"))
        .orderBy("doc_id")
    }),

    // custom per-key sketch state (mapGroupsWithState): bloom of event
    // types per user; bounded state, exact at this cardinality
    "stream_user_state" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstate")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(in)
      // exact batch answer materializes concurrently with the drain
      val batchF = scala.concurrent.Future {
        graft.streaming.WindowedSketch.batchUserTypeCounts(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.WindowedSketch.userTypeState(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareUserState(streamed,
        scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
    }),

    // same contract on the transformWithState API (explicit ValueState
    // schema over the RocksDB store) — Spark 4's arbitrary-state operator
    "stream_tws_user_state" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("grafttws")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(in)
      val batchF = scala.concurrent.Future {
        graft.streaming.WindowedSketch.batchUserTypeCounts(s, in).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.WindowedSketch.userTypeStateTws(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareUserState(streamed,
        scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
    }),

    // streaming gap sessionization on the native session_window
    // aggregation (append mode): time-ordered replay + one far-future
    // sentinel event whose watermark advance closes — and the trailing
    // no-data micro-batch emits — every real session; result must
    // match the batch operator session-for-session
    "stream_sessionize" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsess")
      val in = tmp.resolve("in").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      // time-ordered files so the watermark never drops on-time data
      // (file source replays in mtime order; see stream_windowed_hll)
      ev.repartitionByRange(2, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(in)
      val phase1 = pinMtimes(in)(1000000000000L, Set.empty)
      // sentinel: one event 2 gaps past the corpus max — its watermark
      // advance closes every real session; its own never emits
      ev.select(max(col("ts")).as("m"))
        .select(lit(-1L).as("event_id"),
          (col("m") + expr("INTERVAL 16 HOURS")).as("ts"),
          lit(graft.streaming.StreamSessionize.SentinelUser).as("user_id"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(in)
      pinMtimes(in)(2000000000000L, phase1)
      // exact batch sessionization materializes concurrently with
      // the drain (it reads the same pinned seed files, read-only)
      val batchF = scala.concurrent.Future {
        graft.streaming.StreamSessionize.batchSessions(s, in, Temporal8hUs).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val streamed = graft.streaming.StreamSessionize.sessionize(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        gap = "8 hours", statePartitions = 4)
      graft.streaming.StreamSessionize.compareSessions(streamed,
          scala.concurrent.Await.result(batchF, scala.concurrent.duration.Duration.Inf))
        .orderBy("user_id", "start_us")
    }),

    // stream-stream watermarked interval join: purchases x clicks of
    // the same user within the trailing 8h, both sides live streams;
    // inner-join emission is match-driven (no sentinel), watermarks
    // bound the symmetric join state; drained pairs == batch interval
    // join exactly
    "stream_interval_join" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsij")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(in)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      val sorted = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (parts.hasNext) { val p = parts.next(); if (p.toString.endsWith(".parquet")) sorted += p }
      sorted.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      // 2 data batches per source and 4 state partitions: multi-batch
      // cross-batch matching still exercised, but the dominant cost —
      // 4 join state stores x partitions x batches of commit constants
      // — stays proportionate to the 10k-row gate corpus
      graft.streaming.StreamJoins.intervalJoin(
          s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
          probeType = "purchase", refType = "click", window = "8 hours",
          maxFilesPerTrigger = 4, statePartitions = 4)
        .orderBy("p_id", "c_id")
    }),

    // snapshot/time-travel sketch table: v1 = sketches of half the
    // corpus, v2 = full corpus; reading v1 after v2 exists must see the
    // old estimates (immutable snapshots), v2 must equal a direct build
    "sketch_table_snapshots" -> ((s, dir) => {
      val io = new graft.catalog.SketchTableIO(s,
        graft.util.Scratch.tempDir("snaps").toString)
      def build(d: DataFrame) = d
        .select(col("source"), explode(col("tokens")).as("token"))
        .groupBy("source")
        .agg(hll_agg(col("token").cast("string"), 14).as("hll"), count(lit(1)).as("n"))
      val all = TokenTable.load(s, dir)
      val half = all.filter(col("doc_id").cast("long") < 250)
      // metric counts on a second driver thread, overlapped with the
      // commits' own build/write jobs
      val cHalfF = scala.concurrent.Future { half.count() }(scala.concurrent.ExecutionContext.global)
      val cAllF = scala.concurrent.Future { all.count() }(scala.concurrent.ExecutionContext.global)
      io.commit(build(half), Map("docs" ->
        scala.concurrent.Await.result(cHalfF, scala.concurrent.duration.Duration.Inf)))
      io.commit(build(all), Map("docs" ->
        scala.concurrent.Await.result(cAllF, scala.concurrent.duration.Duration.Inf)))
      val v1 = io.read(1).select(col("source"),
        hll_estimate(col("hll")).as("e1"), col("n").as("n1"))
      val v2 = io.read(2).select(col("source"),
        hll_estimate(col("hll")).as("e2"), col("n").as("n2"))
      val direct = build(all).select(col("source"),
        hll_estimate(col("hll")).as("ed"), col("n").as("nd"))
      v1.join(v2, Seq("source")).join(direct, Seq("source"))
        .select(col("source"),
          lit(io.versions == Seq(1L, 2L)).as("versions_ok"),
          (col("n1") < col("n2")).as("snapshot_isolated"),
          (col("e2") === col("ed") && col("n2") === col("nd")).as("latest_matches_direct"))
        .orderBy("source")
    }),

    // kill/resume: build crashes (injected) after 1 checkpointed batch,
    // resumes from the lineage journal, and the folded result must be
    // bit-equivalent to a single-shot build (north rule resumability)
    "resumable_build" -> ((s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftresume")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      val ckpt = tmp.resolve("ckpt").toString
      val crashed =
        try { SketchBuildJob.run(s, in, ckpt, filesPerBatch = 2, failAfterBatches = 1); false }
        catch { case _: SketchBuildJob.InjectedFailure => true }
      val resumed = SketchBuildJob.run(s, in, ckpt, filesPerBatch = 2)
      val direct = s.read.parquet(in)
        .select(col("source"), explode(col("tokens")).as("token"))
        .groupBy("source").agg(
          bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("bloom_d"),
          hll_agg(col("token").cast("string"), 14).as("hll_d"),
          count(lit(1)).as("n_d"))
      resumed.sketches.join(direct, Seq("source"))
        .select(col("source"),
          lit(crashed).as("crashed_then_resumed"),
          lit(resumed.batchesSkipped > 0).as("skipped_done_batches"),
          (bloom_estimate(col("bloom")) === bloom_estimate(col("bloom_d"))).as("bloom_ok"),
          (hll_estimate(col("hll")) === hll_estimate(col("hll_d"))).as("hll_ok"),
          (col("n_tokens") === col("n_d")).as("n_ok"))
        .orderBy("source")
    }),

    // sketch rollup: fold per-source sketches into a global sketch with
    // the merge aggregates; estimates must match a direct global build
    "sketch_rollup" -> ((s, dir) => {
      val toks = TokenTable.tokens(s, dir)
      val perSource = toks.groupBy("source").agg(
        bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("bloom"),
        hll_agg(col("token").cast("string"), 14).as("hll"),
        cms_agg(col("token").cast("string"), 1e-4, 0.01).as("cms"),
        tdigest_agg(col("token"), 100.0).as("td"),
        kll_agg(col("token"), 200).as("kll"),
        freq_agg(col("token").cast("string"), 32).as("freq"))
      val rolled = perSource.agg(
        bloom_merge_agg(col("bloom")).as("bloom"),
        hll_merge_agg(col("hll")).as("hll"),
        cms_merge_agg(col("cms")).as("cms"),
        tdigest_merge_agg(col("td")).as("td"),
        kll_merge_agg(col("kll")).as("kll"),
        freq_merge_agg(col("freq")).as("freq"))
      val direct = toks.agg(
        bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("bloom_d"),
        hll_agg(col("token").cast("string"), 14).as("hll_d"),
        cms_agg(col("token").cast("string"), 1e-4, 0.01).as("cms_d"),
        tdigest_agg(col("token"), 100.0).as("td_d"),
        kll_agg(col("token"), 200).as("kll_d"),
        count(lit(1)).as("n"))
      rolled.crossJoin(direct).select(
        (bloom_estimate(col("bloom")) === bloom_estimate(col("bloom_d"))).as("bloom_ok"),
        (hll_estimate(col("hll")) === hll_estimate(col("hll_d"))).as("hll_ok"),
        (cms_total(col("cms")) === col("n")).as("cms_ok"),
        (abs(tdigest_quantile(col("td"), lit(0.5)) - tdigest_quantile(col("td_d"), lit(0.5))) <= lit(1.0)).as("td_ok"),
        (kll_n(col("kll")) === col("n")).as("kll_ok"),
        // MG counters are merge-order-dependent; the rollup must still
        // conserve weight and keep error inside the published n/(k+1)
        (freq_total(col("freq")) === col("n") &&
          freq_error(col("freq")) * 33 <= col("n")).as("freq_ok"))
    }),

    // the C daemon's line protocol (conn_handler.c), replayed over a
    // composite of its integ-test goldens; responses normalized
    // (trailing \n stripped, inner \n -> " / ")
    "op_c_wire_trace" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.CWireServer(new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("cwire").toString))
      CWireTrace.zipWithIndex
        .map { case (cmd, i) =>
          (i + 1, if (cmd.length > 40) cmd.take(20) + "..." else cmd,
            srv.interpret(cmd).stripSuffix("\n").replace("\n", " / "))
        }
        .toDF("step", "command", "response")
        .orderBy("step")
    }),

    // the SAME C-protocol trace, but driven over a REAL TCP socket
    // through WireTcpServer (the reference integ tests' transport,
    // integ/test_integ.py:19-71) — proves the line framing, not just
    // the interpreter
    "op_tcp_wire_trace" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.CWireServer(new graft.catalog.SketchCatalog(s,
        graft.util.Scratch.tempDir("tcpwire").toString))
      val tcp = new graft.catalog.WireTcpServer(srv.interpret)
      try {
        val rows = graft.catalog.WireTcpClient.session(tcp.port) { send =>
          CWireTrace.zipWithIndex.map { case (cmd, i) =>
            (i + 1, if (cmd.length > 40) cmd.take(20) + "..." else cmd,
              send(cmd).replace("\n", " / "))
          }
        }
        rows.toDF("step", "command", "response").orderBy("step")
      } finally tcp.close()
    }),

    // migration path: restore a filter from the reference C daemon's
    // own on-disk directory layout (config.ini + data.NNN.mmap,
    // filter.c:435-536) and prove membership/shape survived
    "op_bloomd_restore" -> ((s, dir) => {
      import s.implicits._
      val tmp = graft.util.Scratch.tempDir("bloomdrestore")
        .resolve("bloomd.migrated")
      java.nio.file.Files.createDirectories(tmp)
      // build a 3-layer SBF exactly as the daemon would (sequential
      // adds overflowing two rungs), then write ITS layout by hand
      val src = graft.sketch.ScalableBloom.create(100L, 1e-4, 4, 0.9)
      val keys = (0 until 600).map(i => s"mig$i")
      keys.foreach(k => src.add(k.getBytes("UTF-8")))
      val ini =
        s"""[bloomd]
           |initial_capacity = 100
           |default_probability = 0.000100
           |scale_size = 4
           |probability_reduction = 0.900000
           |in_memory = 0
           |size = ${src.size}
           |capacity = ${src.totalCapacity}
           |bytes = ${src.totalByteSize}
           |""".stripMargin
      java.nio.file.Files.writeString(tmp.resolve("config.ini"), ini)
      src.layers.zipWithIndex.foreach { case ((_, f), i) =>
        java.nio.file.Files.write(tmp.resolve(f"data.$i%03d.mmap"), f.serialize())
      }
      val (cfg, restored) = graft.catalog.SketchCatalog.restoreFromBloomd(tmp)
      val noFalseNeg = keys.forall(k => restored.contains(k.getBytes("UTF-8")))
      val absent = (0 until 600).count(i => restored.contains(s"abs$i".getBytes("UTF-8")))
      Seq((
        cfg.initialCapacity == 100L && cfg.scaleSize == 4,
        restored.numLayers == src.numLayers,
        restored.size == src.size,
        noFalseNeg,
        absent == 0)).toDF(
        "config_ok", "layers_ok", "size_ok", "zero_false_neg", "no_false_pos_sample")
    }),

    // the Rust server's golden wire trace (main.rs:851-930), replayed
    // against our counting server; responses normalized (\r\n -> " / ")
    "op_rust_wire_trace" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.catalog.RustBloomServer(
        graft.util.Scratch.tempDir("rustwire").toString)
      val trace = Seq(
        "create filter", "create filter",
        "check filter first", "set filter first", "c filter first",
        "s filter first", "c filter first", "s filter first", "c filter first",
        "set filetr first", "check filetr first",
        "set filter first second", "check filter", "set filter",
        "multi filter first second third", "bulk filter first second third",
        "b filter first second third", "m filter first second third",
        "bulk filetr first second third", "multi filetr first second third",
        "list fake_prefix", "list",
        "info", "info filetr", "info filter",
        "infor filter", "sette filter first",
        "flush", "flush filter",
        "close", "close filter", "create filter",
        "clear filter", "create filter", "m filter first second third",
        "drop", "drop filter", "drop filter")
      trace.zipWithIndex
        .map { case (cmd, i) =>
          (i + 1, cmd, srv.interpret(cmd).replace("\r\n", " / "))
        }
        .toDF("step", "command", "response")
        .orderBy("step")
    }),

    // ---- relational coverage extras -------------------------------------

    "q_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n_rows"), col("sum_qty"))
        .orderBy("rf", "ls")),

    // explicit skew handling: two-phase salted aggregation over a hot
    // key (pre-aggregate on (key, salt), then combine) — the pattern
    // for skewed NON-mergeable aggs where AQE alone can't help; result
    // must equal the direct single-phase aggregation
    "q_skew_salted" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderstatus").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          pmod(xxhash64(col("o_orderkey")), lit(16)).as("salt"))
      val salted = o.groupBy("k", "salt")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .groupBy("k")
        .agg(sum(col("n")).as("n_orders"), sum(col("c")).as("cents"))
      val direct = o.groupBy("k")
        .agg(count(lit(1)).as("n_d"), sum(col("cents")).as("c_d"))
      salted.join(direct, Seq("k"))
        .select(col("k").as("o_orderstatus"), col("n_orders"), col("cents"),
          (col("n_orders") === col("n_d") && col("cents") === col("c_d")).as("two_phase_ok"))
        .orderBy("o_orderstatus")
    }),

    // the reference's production use-case expressed relationally: a
    // bloom sketch of the dim-side keys PRUNES the fact scan before
    // the exact join (bloomd guards Riak lookups the same way; Spark's
    // runtime bloom-filter join is the built-in analog). False
    // positives only pass rows the exact semi-join then drops, so the
    // result equals the plain join — the no-false-negative invariant
    // doing real relational work
    "q_bloom_prejoin" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val sketch = sketch_ref(s, cust
        .agg(bloom_agg(col("c_custkey").cast("string"), 100000L, 1e-4).as("sk"))
        .head().getAs[Array[Byte]]("sk"))
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val pruned = orders.filter(
        bloom_contains(sketch, col("o_custkey").cast("string")))
      pruned.join(broadcast(cust), pruned("o_custkey") === cust("c_custkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // JSON column handling: extract + aggregate over the props field
    "q_json_props" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // 3-table join + filter + agg + top-k (TPC-H Q3 shape)
    "q3_shipping" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long").as("rev_cents"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("rev_cents")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate").cast("string").as("o_date"),
          col("revenue_cents"))
    }),

    // EXISTS-style semi join: customers with at least one urgent order
    "q_semi_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val urgent = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_custkey"))
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    "q_set_ops" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey").as("k"))
      val o = s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey").as("k"))
      c.intersect(o).withColumn("op", lit("with_orders"))
        .union(c.except(o).withColumn("op", lit("no_orders")))
        .orderBy("op", "k")
    }),

    // ---- temporal -------------------------------------------------------

    // as-of join: each purchase attributed to the user's most recent
    // click at-or-before it — single-exchange union+window plan, no
    // range join (Temporal.asOfJoin)
    "q_asof_join" -> ((s, dir) =>
      Temporal.asOfJoin(s.read.parquet(s"$dir/events.parquet"),
        probeType = "purchase", refType = "click").orderBy("event_id")),

    // gap sessionization: 8-hour inactivity gap over per-user event
    // streams; all-integer outputs (micros, cents, counts)
    "q_sessionize" -> ((s, dir) =>
      Temporal.sessionize(s.read.parquet(s"$dir/events.parquet"),
        gapUs = Temporal8hUs).orderBy("user_id", "session_idx"))
  )

  /** 8 hours in microseconds — the gate's session gap */
  val Temporal8hUs: Long = 8L * 3600 * 1000000

  // ---- oracles ----------------------------------------------------------

  /** words array, shared fragment. */
  private val W = "regexp_split_to_array(text, '\\s+')"
  /** planted target-domain marker for pipeline_target_select: 18
    * distinct words -> 17 shared target-affine bigram features. */
  private[pipeline] val TargetPhrase =
    "zeta yotta exa peta tera giga mega kilo hecto deka deci centi milli micro nano pico femto atto"
  /** distinct word-trigram shingles of a words array named ws. */
  private val Sh =
    "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])"
  private val ShTable =
    s"(SELECT doc_id, $Sh AS sh FROM (SELECT doc_id, $W AS ws FROM documents))"
  /** exact trigram-jaccard pairs at >= 0.5 — shared by 3 dedup
    * oracles. Posting-join form (unnest → gram-equality join → count
    * per pair): identical counts to the all-pairs list_intersect
    * form, but candidate pairs come from the inverted index, so the
    * sf0.1 oracle runs in seconds instead of ~9 min per use. */
  private val JaccardPairs =
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
  private val Cos =
    s"${dot("a.e", "b.e")} / (sqrt(${dot("a.e", "a.e")}) * sqrt(${dot("b.e", "b.e")}))"
  private val Vecs = "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"

  private val stopLists: Map[String, String] =
    TextFunctions.StopwordProfiles.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
    }.toMap
  private def score(l: String) =
    s"CAST(len(list_filter(ws, w -> list_contains(${stopLists(l)}, w))) AS INT)"

  /** The composite C-daemon command trace, replayed through BOTH the
    * interpreter gate (op_c_wire_trace) and a real TCP socket
    * (op_tcp_wire_trace). Steps 39-46 pin the in_memory lifecycle at
    * the gate (not just the unit suite): create in_memory=1, close is
    * a no-op that still answers Done (`filter_manager.c:516-517` skips
    * unmap — memory is the only backing store), data survives, info
    * reports in_memory 1 with zero page activity. */
  private val CWireTrace: Seq[String] = Seq(
    "list", "create foobar", "create foobar", "create " + ("foo" * 100),
    "set foobar test", "set foobar test", "check foobar test", "check foobar other",
    "multi foobar test test1 test2", "bulk foobar test blah",
    "b foobar x y", "s foobar x", "m foobar x y", "c foobar x",
    "set foobar", "check foobar", "set nosuch key", "multi nosuch a b",
    "frobnicate foobar", "create", "create badcap capacity=500", "create badp prob=0.5",
    "create foobar2", "create test4", "list foo",
    "clear foobar2", "close foobar2", "clear foobar2", "create foobar2",
    "drop foobar2", "drop foobar2",
    "flush", "flush foobar", "flush nosuch",
    "info foobar", "drop foobar", "drop test4", "list",
    "create memf in_memory=1", "set memf mk1", "check memf mk1",
    "close memf", "check memf mk1", "info memf", "drop memf", "list")

  /** shared oracle: the C daemon trace VALUES table (also replayed over TCP) */
  private val CWireTraceOracle: String =
    ("SELECT * FROM (VALUES " +
        "(1, 'list', 'START / END'), " +
        "(2, 'create foobar', 'Done'), " +
        "(3, 'create foobar', 'Exists'), " +
        "(4, 'create foofoofoofoof...', 'Client Error: Bad filter name'), " +
        "(5, 'set foobar test', 'Yes'), " +
        "(6, 'set foobar test', 'No'), " +
        "(7, 'check foobar test', 'Yes'), " +
        "(8, 'check foobar other', 'No'), " +
        "(9, 'multi foobar test test1 test2', 'Yes No No'), " +
        "(10, 'bulk foobar test blah', 'No Yes'), " +
        "(11, 'b foobar x y', 'Yes Yes'), " +
        "(12, 's foobar x', 'No'), " +
        "(13, 'm foobar x y', 'Yes Yes'), " +
        "(14, 'c foobar x', 'Yes'), " +
        "(15, 'set foobar', 'Client Error: Must provide filter name and key'), " +
        "(16, 'check foobar', 'Client Error: Must provide filter name and key'), " +
        "(17, 'set nosuch key', 'Filter does not exist'), " +
        "(18, 'multi nosuch a b', 'Filter does not exist'), " +
        "(19, 'frobnicate foobar', 'Client Error: Command not supported'), " +
        "(20, 'create', 'Client Error: Must provide filter name'), " +
        "(21, 'create badcap capacity=500', 'Client Error: Bad arguments'), " +
        "(22, 'create badp prob=0.5', 'Client Error: Bad arguments'), " +
        "(23, 'create foobar2', 'Done'), " +
        "(24, 'create test4', 'Done'), " +
        "(25, 'list foo', 'START / foobar 0.000100 300046 100000 4 / foobar2 0.000100 300046 100000 0 / END'), " +
        "(26, 'clear foobar2', 'Filter is not proxied. Close it first.'), " +
        "(27, 'close foobar2', 'Done'), " +
        "(28, 'clear foobar2', 'Done'), " +
        "(29, 'create foobar2', 'Done'), " +
        "(30, 'drop foobar2', 'Done'), " +
        "(31, 'drop foobar2', 'Filter does not exist'), " +
        "(32, 'flush', 'Done'), " +
        "(33, 'flush foobar', 'Done'), " +
        "(34, 'flush nosuch', 'Filter does not exist'), " +
        "(35, 'info foobar', 'START / capacity 100000 / checks 8 / check_hits 5 / check_misses 3 / in_memory 1 / page_ins 0 / page_outs 0 / probability 0.000100 / sets 7 / set_hits 4 / set_misses 3 / size 4 / storage 300046 / END'), " +
        "(36, 'drop foobar', 'Done'), " +
        "(37, 'drop test4', 'Done'), " +
        "(38, 'list', 'START / END'), " +
        "(39, 'create memf in_memory=1', 'Done'), " +
        "(40, 'set memf mk1', 'Yes'), " +
        "(41, 'check memf mk1', 'Yes'), " +
        "(42, 'close memf', 'Done'), " +
        "(43, 'check memf mk1', 'Yes'), " +
        "(44, 'info memf', 'START / capacity 100000 / checks 2 / check_hits 2 / check_misses 0 / in_memory 1 / page_ins 0 / page_outs 0 / probability 0.000100 / sets 1 / set_hits 1 / set_misses 0 / size 1 / storage 300046 / END'), " +
        "(45, 'drop memf', 'Done'), " +
        "(46, 'list', 'START / END')" +
        ") AS t(step, command, response) ORDER BY step")

  def oracleSql: Map[String, String] = Map(
    "dedup_url" ->
      (s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        " SELECT url_norm, min(doc_id) AS kept_doc_id, count(*) AS n_copies " +
        "FROM s2 GROUP BY url_norm ORDER BY url_norm"),

    "pipeline_domain_filter" ->
      (s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        " SELECT doc_id, domain FROM (SELECT doc_id, " +
        "regexp_extract(url_norm, '^[a-z]+://([^/:?]+)', 1) AS domain FROM s2) " +
        "WHERE domain NOT IN ('cdn.example.org', 'spam.example.net') ORDER BY doc_id"),

    "pipeline_domain_cap" ->
      (s"WITH planted AS (SELECT doc_id, $UrlPlantSql AS url FROM documents), " +
        UrlNormSqlSteps +
        ", d AS (SELECT doc_id, regexp_extract(url_norm, '^[a-z]+://([^/:?]+)', 1) AS domain FROM s2), " +
        "r AS (SELECT domain, doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS priority, " +
        "row_number() OVER (PARTITION BY domain " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), CAST(doc_id AS VARCHAR)) AS rn FROM d) " +
        "SELECT domain, doc_id, priority FROM r WHERE rn <= 3 ORDER BY domain, priority"),

    "source_jsonl" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5 " +
        "FROM documents ORDER BY doc_id"),

    "source_orc" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5 " +
        "FROM documents ORDER BY doc_id"),

    "source_csv" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(t) AS BIGINT) AS text_len, md5(t) AS text_md5 FROM (" +
        "SELECT doc_id, source, lang, n_chars, " +
        "CASE WHEN doc_id % 17 = 0 THEN concat(text, ' x,\"q\"' || chr(10) || 'y') " +
        "ELSE text END AS t FROM documents) ORDER BY doc_id"),

    "table_merge_upsert" ->
      ("WITH base AS (SELECT doc_id, source, text FROM documents), " +
        "final AS (" +
        "SELECT doc_id, source, text FROM base WHERE doc_id % 13 != 0 AND doc_id % 7 != 0 " +
        "UNION ALL " +
        "SELECT doc_id, source, upper(text) AS text FROM base WHERE doc_id % 13 != 0 AND doc_id % 7 = 0 " +
        "UNION ALL " +
        "SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, " +
        "'crawl2' AS source, concat('new ', text) AS text " +
        "FROM base WHERE doc_id % 11 = 0) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS text_md5, " +
        "CAST(2 AS BIGINT) AS version, TRUE AS time_travel_ok " +
        "FROM final ORDER BY doc_id"),

    "pipeline_release" ->
      ("WITH d AS (SELECT doc_id, source, text FROM documents), " +
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
        "FROM ranked, flag WHERE rank <= 4 ORDER BY source, rank"),

    "text_normalize" ->
      ("WITH p AS (SELECT doc_id, concat(text, ' Cafe' || chr(769) || ' ' || chr(201) " +
        "|| 'lan No' || chr(776) || 'el') AS t FROM documents) " +
        "SELECT doc_id, CAST(length(t) AS BIGINT) AS n_raw, " +
        "CAST(length(nfc_normalize(t)) AS BIGINT) AS n_nfc, " +
        "md5(nfc_normalize(t)) AS nfc_md5, " +
        "md5(strip_accents(nfc_normalize(t))) AS strip_md5, " +
        "TRUE AS nfc_idempotent " +
        "FROM p ORDER BY doc_id"),

    "stream_merge_upsert" ->
      ("WITH base AS (SELECT doc_id, source, text FROM documents), " +
        "final AS (" +
        "SELECT doc_id, source, text FROM base WHERE doc_id % 5 != 0 " +
        "UNION ALL " +
        "SELECT doc_id, source, upper(text) AS text FROM base WHERE doc_id % 5 = 0 AND doc_id % 10 != 0 " +
        "UNION ALL " +
        "SELECT doc_id, source, concat('re ', text) AS text FROM base WHERE doc_id % 10 = 0 " +
        "UNION ALL " +
        "SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, " +
        "'crawl2' AS source, concat('new ', text) AS text " +
        "FROM base WHERE doc_id % 9 = 0) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS text_md5, " +
        "CAST(4 AS BIGINT) AS version, TRUE AS time_travel_ok " +
        "FROM final ORDER BY doc_id"),

    "text_lang_id" ->
      ("SELECT doc_id, lang_label, score_de, score_en, score_es, score_fr, score_zh, " +
        "CASE WHEN m = 0 THEN 'und' WHEN score_de = m THEN 'de' WHEN score_en = m THEN 'en' " +
        "WHEN score_es = m THEN 'es' WHEN score_fr = m THEN 'fr' ELSE 'zh' END AS lang_pred " +
        "FROM (SELECT doc_id, lang_label, score_de, score_en, score_es, score_fr, score_zh, " +
        "greatest(score_de, score_en, score_es, score_fr, score_zh) AS m " +
        s"FROM (SELECT doc_id, lang AS lang_label, ${score("de")} AS score_de, ${score("en")} AS score_en, " +
        s"${score("es")} AS score_es, ${score("fr")} AS score_fr, ${score("zh")} AS score_zh " +
        s"FROM (SELECT doc_id, lang, $W AS ws FROM documents))) ORDER BY doc_id"),

    "text_quality" ->
      ("SELECT doc_id, CAST(len(ws) AS INT) AS n_words, CAST(length(text) AS INT) AS n_chars_calc, " +
        "round(list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws), 6) AS mean_word_len, " +
        "round(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS type_token_ratio, " +
        "round(len(list_filter(ws, w -> list_contains(" + stopLists("en") + ", w)))::DOUBLE / len(ws), 6) AS stopword_ratio, " +
        "(len(ws) BETWEEN 5 AND 2000 AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.05 " +
        "AND list_sum(list_transform(ws, w -> len(w)))::BIGINT / len(ws) BETWEEN 1.0 AND 20.0) AS quality_keep " +
        s"FROM (SELECT doc_id, text, $W AS ws FROM documents) ORDER BY doc_id"),

    "text_token_counts" ->
      (s"SELECT doc_id, CAST(len($W) AS INT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_re_tokens " +
        "FROM documents ORDER BY doc_id"),

    "text_redact_pii" ->
      ("WITH planted AS (SELECT doc_id, text || ' contact user' || doc_id || " +
        "'@example.com or Ops.Team99887766@Example.COM ref 99887766 x' || (doc_id % 3) AS text FROM documents) " +
        "SELECT doc_id, " +
        s"regexp_replace(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'), " +
        s"'${TextOps.NumberPattern}', '<NUM>', 'g') AS text_clean, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS INT) AS n_emails, " +
        // redactions PERFORMED: digit runs inside emails are already
        // <EMAIL> by the time the number pass runs
        s"CAST(len(regexp_extract_all(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'), " +
        s"'${TextOps.NumberPattern}')) AS INT) AS n_numbers " +
        "FROM planted ORDER BY doc_id"),

    "text_quality_model" ->
      (s"WITH t AS (SELECT doc_id, $W AS ws FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')] " +
        "ELSE list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) END AS gs FROM t), " +
        "sc AS (SELECT doc_id, CAST(len(gs) AS INT) AS n_features, " +
        "COALESCE(list_sum(list_transform(gs, g -> " +
        "(((list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, c) -> (a * 31 + c) % 1000000007) % 512) * 2654435761) % 1000003) % 2001 - 1000)), 0) AS score_milli FROM g) " +
        "SELECT doc_id, n_features, CAST(score_milli AS BIGINT) AS score_milli, score_milli > 0 AS keep " +
        "FROM sc ORDER BY doc_id"),

    "text_fingerprints" ->
      ("SELECT doc_id, md5(text) AS fp_md5, " +
        "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, c) -> (a * 31 + c) % 1000000007) AS fp_rolling " +
        "FROM documents ORDER BY doc_id"),

    "dedup_exact" ->
      ("SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id, count(*) AS n_copies " +
        "FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text) ORDER BY kept_doc_id"),

    // independent replay of the overlap matrix: distinct (digest,
    // source) pairs self-joined on the digest — structurally different
    // from the operator's collect_set pair explosion, same answer
    "dedup_source_overlap" ->
      ("WITH planted AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + 20000, text, 'mirror_' || source FROM documents WHERE doc_id % 7 = 0), " +
        "ds AS (SELECT DISTINCT md5(text) AS fp, source FROM planted) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
        "FROM ds a JOIN ds b ON a.fp = b.fp AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    "text_novelty" ->
      (s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
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
        "FROM p1 LEFT JOIN sh ON sh.doc_id = p1.doc_id ORDER BY p1.doc_id"),

    "corpus_diff" ->
      ("WITH mx AS (SELECT max(doc_id) + 1 AS sh FROM documents), " +
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
        "FROM j GROUP BY source ORDER BY source"),

    "corpus_stats" ->
      ("WITH planted AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + 30000, text, source FROM documents WHERE doc_id % 5 = 0), " +
        "pt AS (SELECT source, md5(text) AS fp, count(*) AS cnt, min(length(text)) AS len " +
        "FROM planted GROUP BY 1, 2) " +
        "SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_distinct_texts, " +
        "CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_docs, " +
        "CAST(sum(len * cnt) AS BIGINT) AS n_chars_total, " +
        "CAST(min(len) AS BIGINT) AS min_chars, CAST(max(len) AS BIGINT) AS max_chars " +
        "FROM pt GROUP BY source ORDER BY source"),

    "pipeline_curation" -> CurationOracle,
    // identical oracle: the LSH-mode pipeline must produce the SAME
    // survivors as the exact replay (banded recall ≈ 1 at minJ 0.5)
    "pipeline_curation_lsh" -> CurationOracle,

    "pipeline_decontam" -> DecontamOracle,

    "pipeline_sample_stratified" ->
      ("SELECT doc_id, source, nibble, rate16 FROM (" +
        "SELECT doc_id, source, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS nibble, " +
        "CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 12 ELSE 6 END AS INT) AS rate16 " +
        "FROM documents) WHERE nibble < rate16 ORDER BY doc_id"),

    "pipeline_split_leakfree" ->
      (s"WITH e AS (SELECT id_a AS a, id_b AS b FROM ($JaccardPairs) UNION SELECT id_b, id_a FROM ($JaccardPairs)), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r), " +
        "lab AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a) " +
        "SELECT doc_id, rep, CASE WHEN nib < 12 THEN 'train' WHEN nib < 14 THEN 'val' ELSE 'test' END AS split FROM (" +
        "SELECT d.doc_id AS doc_id, coalesce(l.rep, d.doc_id) AS rep, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(coalesce(l.rep, d.doc_id) AS VARCHAR)), 1, 1)) - 1 AS INT) AS nib " +
        "FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id) ORDER BY doc_id"),

    "pipeline_pack_sequences" ->
      ("SELECT source, doc_id, n_tok, cum_tok, CAST(floor((cum_tok - n_tok) / 4096.0) AS BIGINT) AS bin_id FROM (" +
        "SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(len($W) AS BIGINT) AS n_tok, " +
        s"CAST(SUM(CAST(len($W) AS BIGINT)) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT) " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM documents) ORDER BY source, doc_id"),

    "pipeline_chunk_stream" ->
      ("SELECT source, doc_id, n_tok, start_off, first_chunk, last_chunk, " +
        "last_chunk > first_chunk AS crosses_chunk FROM (" +
        "SELECT source, doc_id, n_tok, cum_tok - n_tok AS start_off, " +
        "(cum_tok - n_tok) // 512 AS first_chunk, (cum_tok - 1) // 512 AS last_chunk FROM (" +
        "SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(len($W) AS BIGINT) AS n_tok, " +
        s"CAST(SUM(CAST(len($W) AS BIGINT)) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT) " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM documents)) " +
        "ORDER BY source, doc_id"),

    "pipeline_sample_priority" ->
      ("WITH b AS (SELECT source, CAST(doc_id AS BIGINT) AS doc_id, " +
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
        "FROM kept, tot, et ORDER BY doc_id"),

    "pipeline_mixture" ->
      ("WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
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
        "JOIN r USING (source) WHERE coin < rate4096 ORDER BY doc_id"),

    "pipeline_mixture_temp" ->
      ("WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
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
        "JOIN r USING (source) WHERE coin < rate4096 ORDER BY doc_id"),

    "pipeline_target_select" ->
      ("WITH planted AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
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
        "FROM v GROUP BY 1, 2 ORDER BY doc_id"),

    "pipeline_epoch_shuffle" ->
      ("WITH k AS (SELECT epoch, CAST(doc_id AS BIGINT) AS doc_id, " +
        "md5(epoch || ':' || doc_id) AS skey " +
        "FROM (SELECT unnest([1, 2]) AS epoch) CROSS JOIN documents) " +
        "SELECT CAST(epoch AS INT) AS epoch, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos " +
        "FROM k ORDER BY epoch, pos"),

    "text_repetition" ->
      ("WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 40 = 0 " +
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
        "ORDER BY doc_id"),

    // the bigram LM, the cross-multiplied rarity rule, the per-mille
    // floor, and the lower-median keep threshold all replay exactly
    "text_lm_filter" ->
      (s"WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, $W AS ws FROM documents), " +
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
        "FROM s2 CROSS JOIN med ORDER BY doc_id"),

    "dedup_spans" ->
      (s"WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 50 = 0 " +
        s"THEN '$SpanPlant ' || text ELSE text END AS text FROM documents), " +
        s"t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $W AS ws FROM planted), " +
        "b0 AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT))) AS bidx, ws FROM t), " +
        "b AS (SELECT doc_id, bidx, array_to_string(ws[bidx * 5 + 1 : bidx * 5 + 5], ' ') AS btext FROM b0), " +
        "k AS (SELECT doc_id, bidx, btext, " +
        "row_number() OVER (PARTITION BY btext ORDER BY doc_id, bidx) = 1 AS keep FROM b) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_blocks, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed, " +
        "COALESCE(string_agg(CASE WHEN keep THEN btext END, ' ' ORDER BY bidx), '') AS clean_text " +
        "FROM k GROUP BY doc_id ORDER BY doc_id"),

    // df-threshold replay: per-block distinct-doc counts on RAW block
    // text (a 64-bit key collision engine-side would fail this gate)
    "dedup_boilerplate" ->
      (s"WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 " +
        s"THEN '$SpanPlant ' || text ELSE text END AS text FROM documents), " +
        s"t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $W AS ws FROM planted), " +
        "b0 AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT))) AS bidx, ws FROM t), " +
        "b AS (SELECT doc_id, bidx, array_to_string(ws[bidx * 5 + 1 : bidx * 5 + 5], ' ') AS btext FROM b0), " +
        "d AS (SELECT btext, count(DISTINCT doc_id) AS dfb FROM b GROUP BY btext), " +
        "k AS (SELECT b.doc_id, b.bidx, b.btext, d.dfb <= 3 AS keep FROM b JOIN d USING (btext)) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_blocks, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed, " +
        "COALESCE(string_agg(CASE WHEN keep THEN btext END, ' ' ORDER BY bidx), '') AS clean_text " +
        "FROM k GROUP BY doc_id ORDER BY doc_id"),

    // exact-substring replay: windows grouped on RAW token text (an
    // md5-prefix window-key collision engine-side would fail this
    // gate); first occurrence by (doc_id, pos) survives, every other
    // occurrence's [pos, pos+8) positions are cut, clean_csv is the
    // surviving tokens in order
    "dedup_substrings" ->
      (s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
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
        "FROM p2 LEFT JOIN ag USING (doc_id) LEFT JOIN cl USING (doc_id) ORDER BY doc_id"),

    // streaming corpus scrub replay: fresh-doc windows that appear in
    // the corpus window set are cut (the corpus copy is the earlier
    // occurrence by definition), clean_csv rebuilt position-by-position
    "stream_substring_scrub" ->
      (s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        s"list_transform($W, w -> CAST(list_position(${TokenTable.vocabDuckArray}, w) - 1 AS INT)) AS tk " +
        "FROM documents), " +
        "fresh AS (SELECT doc_id + 100000 AS doc_id, " +
        "CASE WHEN doc_id % 4 = 0 THEN tk[1:10] || list_reverse(tk) ELSE list_reverse(tk) END AS toks FROM tt), " +
        "ck AS (SELECT DISTINCT array_to_string(tk[pos + 1 : pos + 8], ',') AS wtext FROM " +
        "(SELECT tk, unnest(range(0, len(tk) - 7)) AS pos FROM tt WHERE len(tk) >= 8)), " +
        "w AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM fresh WHERE len(toks) >= 8), " +
        "k AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ',') AS wtext FROM w), " +
        "cut AS (SELECT k.doc_id, k.pos FROM k JOIN ck USING (wtext)), " +
        "ag AS (SELECT doc_id, count(*) AS n_dup FROM cut GROUP BY doc_id), " +
        "cutpos AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS i FROM cut), " +
        "tk2 AS (SELECT doc_id, i, toks[i + 1] AS tok FROM " +
        "(SELECT doc_id, unnest(range(0, len(toks))) AS i, toks FROM fresh)), " +
        "kept AS (SELECT tk2.doc_id, tk2.i, tk2.tok FROM tk2 LEFT JOIN cutpos c " +
        "ON c.doc_id = tk2.doc_id AND c.i = tk2.i WHERE c.doc_id IS NULL), " +
        "cl AS (SELECT doc_id, string_agg(CAST(tok AS VARCHAR), ',' ORDER BY i) AS clean_csv, " +
        "count(*) AS n_keep FROM kept GROUP BY doc_id) " +
        "SELECT fresh.doc_id, CAST(len(fresh.toks) AS INT) AS n_tok, " +
        "CAST(COALESCE(ag.n_dup, 0) AS INT) AS n_dup_windows, " +
        "CAST(len(fresh.toks) - COALESCE(cl.n_keep, 0) AS INT) AS n_cut, " +
        "COALESCE(cl.clean_csv, '') AS clean_csv " +
        "FROM fresh LEFT JOIN ag USING (doc_id) LEFT JOIN cl USING (doc_id) ORDER BY doc_id"),

    // streaming scrub must equal the batch operator exactly: the
    // SAME oracle string by construction
    "stream_decontam" -> DecontamOracle,

    "pipeline_corpus_prep" -> CorpusPrepOracle) ++ oracleSqlRest

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

  private def oracleSqlRest: Map[String, String] = Map(
    "dedup_ngram_jaccard" -> JaccardPairs,

    // capped mode: drop shingles with document frequency > 2, then
    // recompute per-doc counts and Jaccard over the SURVIVORS only —
    // the exact replay of ngramJaccardPairs(maxShingleDocs = 2)
    "dedup_ngram_capped" ->
      (s"WITH inv AS (SELECT doc_id, unnest(sh) AS g FROM $ShTable), " +
        "surv AS (SELECT doc_id, g FROM inv WHERE g IN " +
        "(SELECT g FROM inv GROUP BY g HAVING count(*) <= greatest(2, ceil((SELECT count(*) FROM documents) / 250.0)))), " +
        "cnt AS (SELECT doc_id, count(*) AS nsur FROM surv GROUP BY doc_id), " +
        "i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM surv a JOIN surv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (na.nsur + nb.nsur - inter), 6) AS jaccard " +
        "FROM i JOIN cnt na ON na.doc_id = id_a JOIN cnt nb ON nb.doc_id = id_b " +
        "WHERE inter::DOUBLE / (na.nsur + nb.nsur - inter) >= 0.5 ORDER BY id_a, id_b"),

    "dedup_minhash_lsh" -> JaccardPairs,
    "dedup_simhash" -> JaccardPairs,

    "stream_dedup_incremental" ->
      ("WITH corpus AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id % 3 <> 0), " +
        "fresh AS (SELECT CAST(doc_id AS BIGINT) + 1000000 AS id, text FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT CAST(doc_id AS BIGINT) + 2000000 AS id, text " +
        "FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0), " +
        s"cs AS (SELECT id, $Sh AS sh FROM (SELECT id, $W AS ws FROM corpus)), " +
        s"ns AS (SELECT id, $Sh AS sh FROM (SELECT id, $W AS ws FROM fresh)), " +
        "ce AS (SELECT id, unnest(sh) AS g, len(sh) AS n FROM cs), " +
        "ne AS (SELECT id, unnest(sh) AS g, len(sh) AS n FROM ns), " +
        "i AS (SELECT n.id AS id_n, c.id AS id_c, count(*) AS inter, " +
        "any_value(n.n) AS nn, any_value(c.n) AS nc " +
        "FROM ne n JOIN ce c ON n.g = c.g GROUP BY 1, 2), " +
        "p AS (SELECT id_n FROM i WHERE inter::DOUBLE / (nn + nc - inter) >= 0.5), " +
        "agg AS (SELECT id_n AS doc_id, CAST(count(*) AS BIGINT) AS mc FROM p GROUP BY 1) " +
        "SELECT f.id AS doc_id, CAST(COALESCE(mc, 0) AS BIGINT) AS n_match_corpus, " +
        "COALESCE(mc, 0) = 0 AS keep " +
        "FROM fresh f LEFT JOIN agg ON f.id = agg.doc_id ORDER BY doc_id"),

    "dedup_incremental" ->
      ("WITH tagged AS (" +
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
        "FROM tagged t LEFT JOIN agg ON t.id = agg.doc_id WHERE NOT t.c ORDER BY doc_id"),

    "dedup_clusters" ->
      (s"WITH e AS (SELECT id_a AS a, id_b AS b FROM ($JaccardPairs) UNION SELECT id_b, id_a FROM ($JaccardPairs)), " +
        "reach AS (WITH RECURSIVE r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) SELECT * FROM r) " +
        "SELECT a AS doc_id, least(a, min(b)) AS cluster_rep, a = least(a, min(b)) AS keep " +
        "FROM reach GROUP BY a ORDER BY doc_id"),

    "dedup_embedding_cosine" ->
      (s"SELECT id_a, id_b, round(c, 6) AS cos FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $Cos AS c " +
        s"FROM $Vecs a JOIN $Vecs b ON a.vec_id < b.vec_id) WHERE c >= 0.44 ORDER BY id_a, id_b"),

    // same perturbation replayed in SQL; oracle = exact all-pairs at
    // the production threshold over base + planted
    "dedup_embedding_lsh" ->
      (s"WITH planted AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(e, x -> x * 1.0001 + 0.001) AS e FROM " + Vecs + "), " +
        s"u AS (SELECT * FROM $Vecs UNION ALL SELECT * FROM planted) " +
        s"SELECT id_a, id_b, round(c, 6) AS cos FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $Cos AS c " +
        "FROM u a JOIN u b ON a.vec_id < b.vec_id) WHERE c >= 0.99 ORDER BY id_a, id_b"),

    "ann_brute_topk" ->
      ("SELECT q_id, CAST(rank AS INT) AS rank, n_id, round(c, 6) AS cos FROM (" +
        "SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rank FROM (" +
        s"SELECT a.vec_id AS q_id, b.vec_id AS n_id, $Cos AS c FROM $Vecs a JOIN $Vecs b ON b.vec_id <> a.vec_id " +
        "WHERE a.vec_id < 10)) WHERE rank <= 10 ORDER BY q_id, rank"),

    "ann_lsh_topk" ->
      ("SELECT vec_id AS q_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id"),

    // int8 quantization replayed component-by-component: amax is an
    // exact max, q_i = floor(v_i * 127.0 / amax + 0.5) is one IEEE
    // multiply/divide/add/floor (identical doubles in any IEEE
    // engine), and the integer moments are exact sums; recon_ok is
    // the in-plan |q - v*127/amax| <= 0.5 bound
    "embedding_quantize_int8" ->
      (s"WITH q AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM $Vecs), " +
        "qq AS (SELECT vec_id, amax, [CASE WHEN amax = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(floor(e[i] * 127.0 / amax + 0.5) AS BIGINT) END for i in range(1, 65)] AS qv FROM q) " +
        "SELECT vec_id, array_to_string(qv, ',') AS q_csv, round(amax, 6) AS amax_r, " +
        "CAST(list_sum(qv) AS BIGINT) AS q_sum, " +
        "CAST(list_sum([qv[i] * qv[i] for i in range(1, 65)]) AS BIGINT) AS q_nrm2, " +
        "TRUE AS recon_ok FROM qq ORDER BY vec_id"),

    // the full quantized search AND the exact float search both
    // replay, so the ranking, the integer dots, the quantized
    // cosines, and the per-query recall numerator n_hit are all
    // hash-checked
    "ann_quantized_topk" ->
      (s"WITH q AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM $Vecs), " +
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
        "FROM topq LEFT JOIN hits ON topq.q_id = hits.q_id ORDER BY topq.q_id, rank"),

    "ann_ivf_topk" ->
      ("SELECT vec_id AS q_id, TRUE AS mean_recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id"),

    // like the float IVF gate: the quantizer's cells aren't SQL-
    // replayable, so the contract column (mean recall vs the exact
    // float ranking, computed Spark-side) is what the oracle asserts
    "ann_ivf_quantized" ->
      ("SELECT vec_id AS q_id, TRUE AS mean_recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY q_id"),

    // the two counts replay exactly (same left-fold cosine as the
    // embedding-dedup oracles); the cell-dependent half arrives as
    // booleans asserted in-plan against the exact pair set
    "dedup_semantic" ->
      (s"SELECT (SELECT count(*) FROM embeddings) AS n_emb, " +
        s"(SELECT count(*) FROM (SELECT a.vec_id, b.vec_id, $Cos AS c " +
        s"FROM $Vecs a JOIN $Vecs b ON a.vec_id < b.vec_id) WHERE c >= 0.44) AS n_exact_pairs, " +
        "TRUE AS sound_ok, TRUE AS complete_ok"),

    // BM25 replayed end-to-end: postings, df, corpus scalars, Lucene
    // idf, length-normalized tf, per-term fixed-point micros summed as
    // exact integers, row_number top-10 with the same tie order.
    // Streaming runs the SAME contract (stateless per query)
    "retrieval_bm25" -> RetrievalOracle,
    "stream_retrieval" -> RetrievalOracle,

    // each payload is re-derived INDEPENDENTLY from the source text:
    // PGM pixels = text bytes cycled to w*h; WAV samples = b*257-32768
    // (signed PCM16, data bytes [b, b+128]); Y4M frame f pixels =
    // bytes cycled with shift 11*f. Statistics are checked against
    // the real decoders' DECODED VALUES (signed samples for audio)
    "multimodal_decode" ->
      ("WITH d AS (SELECT doc_id, text, CAST(strlen(text) AS INT) AS n, " +
        "['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind FROM documents), " +
        "img AS (SELECT doc_id, kind, CAST(16 + n % 64 AS INT) AS width, CAST(16 + (n * 7) % 64 AS INT) AS height, " +
        "[ascii(substring(text, CAST(i % n AS INT) + 1, 1)) for i in range(0, (16 + n % 64) * (16 + (n * 7) % 64))] AS p " +
        "FROM d WHERE kind = 'image'), " +
        "imgo AS (SELECT doc_id, kind, width, height, CAST(len(p) AS INT) AS n_payload_bytes, CAST(1 AS INT) AS n_frames, " +
        "CAST(list_sum(p) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(list_min(p) AS INT) AS px_min, CAST(list_max(p) AS INT) AS px_max, CAST(list_sum(p) AS BIGINT) AS px_sum FROM img), " +
        "aud AS (SELECT doc_id, kind, n, list_transform(string_split(text, ''), c -> ascii(c)) AS b FROM d WHERE kind = 'audio'), " +
        "audo AS (SELECT doc_id, kind, CAST(8000 AS INT) AS width, CAST(1 AS INT) AS height, " +
        "CAST(2 * n AS INT) AS n_payload_bytes, CAST(n AS INT) AS n_frames, " +
        "CAST((2 * list_sum(b) + 128 * n) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(257 * list_min(b) - 32768 AS INT) AS px_min, CAST(257 * list_max(b) - 32768 AS INT) AS px_max, " +
        "CAST(257 * list_sum(b) - 32768 * n AS BIGINT) AS px_sum FROM aud), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS width, CAST(8 + (n * 5) % 24 AS INT) AS height, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vidp AS (SELECT doc_id, kind, width, height, nf, flatten(list_transform(range(0, nf), f -> " +
        "list_transform(range(0, width * height), i -> ascii(substring(text, CAST((i + 11 * f) % n AS INT) + 1, 1))))) AS p FROM vid), " +
        "vido AS (SELECT doc_id, kind, width, height, CAST(len(p) AS INT) AS n_payload_bytes, nf AS n_frames, " +
        "CAST(list_sum(p) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(list_min(p) AS INT) AS px_min, CAST(list_max(p) AS INT) AS px_max, CAST(list_sum(p) AS BIGINT) AS px_sum FROM vidp) " +
        "SELECT * FROM (SELECT * FROM imgo UNION ALL SELECT * FROM audo UNION ALL SELECT * FROM vido) ORDER BY doc_id"),

    "stream_sketch_incremental" ->
      ("SELECT source, TRUE AS multi_batch_ok, TRUE AS rows_ok, TRUE AS bloom_ok, TRUE AS hll_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),

    "stream_freq_heavy_hitters" ->
      ("SELECT source, TRUE AS multi_batch_ok, TRUE AS rows_ok, TRUE AS guarantee_ok, " +
        "TRUE AS heavy_tracked_ok, TRUE AS err_bound_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),

    "stream_topk" ->
      (s"SELECT source, CAST(rank AS INT) AS rank, n_tok, doc_id, TRUE AS multi_batch_ok FROM (" +
        s"SELECT source, CAST(len($W) AS BIGINT) AS n_tok, CAST(doc_id AS VARCHAR) AS doc_id, " +
        s"row_number() OVER (PARTITION BY source " +
        s"ORDER BY CAST(len($W) AS BIGINT) DESC, CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 3 ORDER BY source, rank"),

    "stream_sketch_table" ->
      ("SELECT source, TRUE AS multi_version_ok, TRUE AS history_monotone, " +
        "TRUE AS rows_ok, TRUE AS bloom_ok, TRUE AS hll_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),

    // images AND every Y4M frame: replay the nearest-neighbor
    // resample to 32x24 with the same integer index math
    // ((y*h0)//24, (x*w0)//32) and check the RESAMPLED pixels; audio
    // rows pass through the spatial resize untouched, so the oracle
    // expects their original signed-sample decode
    "multimodal_transform" ->
      ("WITH d AS (SELECT doc_id, text, CAST(strlen(text) AS INT) AS n, " +
        "['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind FROM documents), " +
        "img AS (SELECT doc_id, kind, text, n, CAST(16 + n % 64 AS INT) AS w0, CAST(16 + (n * 7) % 64 AS INT) AS h0 " +
        "FROM d WHERE kind = 'image'), " +
        "imgp AS (SELECT doc_id, kind, w0, h0, [ascii(substring(text, CAST(i % n AS INT) + 1, 1)) for i in range(0, w0 * h0)] AS p FROM img), " +
        "imgo AS (SELECT doc_id, kind, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height, " +
        "CAST(768 AS INT) AS n_payload_bytes, " +
        "[p[CAST((i // 32) * h0 // 24 AS INT) * w0 + CAST((i % 32) * w0 // 32 AS INT) + 1] for i in range(0, 768)] AS q FROM imgp), " +
        "aud AS (SELECT doc_id, kind, n, list_transform(string_split(text, ''), c -> ascii(c)) AS b FROM d WHERE kind = 'audio'), " +
        "audo AS (SELECT doc_id, kind, CAST(8000 AS INT) AS width, CAST(1 AS INT) AS height, " +
        "CAST(2 * n AS INT) AS n_payload_bytes, " +
        "CAST((2 * list_sum(b) + 128 * n) % 1000000007 AS BIGINT) AS checksum, " +
        "CAST(257 * list_min(b) - 32768 AS INT) AS px_min, CAST(257 * list_max(b) - 32768 AS INT) AS px_max, " +
        "CAST(257 * list_sum(b) - 32768 * n AS BIGINT) AS px_sum FROM aud), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS w0, CAST(8 + (n * 5) % 24 AS INT) AS h0, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vido AS (SELECT doc_id, kind, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height, " +
        "CAST(nf * 768 AS INT) AS n_payload_bytes, flatten(list_transform(range(0, nf), f -> " +
        "list_transform(range(0, 768), i -> ascii(substring(text, " +
        "CAST(((CAST((i // 32) * h0 // 24 AS INT) * w0 + CAST((i % 32) * w0 // 32 AS INT)) + 11 * f) % n AS INT) + 1, 1))))) AS q FROM vid), " +
        "spatial AS (SELECT doc_id, kind, width, height, n_payload_bytes, " +
        "CAST(list_sum(q) % 1000000007 AS BIGINT) AS checksum, " +
        "CAST(list_min(q) AS INT) AS px_min, CAST(list_max(q) AS INT) AS px_max, CAST(list_sum(q) AS BIGINT) AS px_sum " +
        "FROM (SELECT * FROM imgo UNION ALL SELECT * FROM vido)) " +
        "SELECT * FROM (SELECT * FROM spatial UNION ALL SELECT * FROM audo) ORDER BY doc_id"),

    // image/audio frame 0 = the first 256 bytes of the parser-located
    // payload (decoded pixels / PCM data bytes [b, b+128] per
    // sample); video = every 2nd REAL Y4M frame, n_bytes = the
    // frame's w*h plane, checksum over that frame's shifted pixels
    "multimodal_frames" ->
      ("WITH d AS (SELECT doc_id, ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind, " +
        "text, CAST(strlen(text) AS INT) AS n FROM documents), " +
        "imf AS (SELECT doc_id, kind, CAST(0 AS INT) AS frame_idx, " +
        "CAST(least(256, (16 + n % 64) * (16 + (n * 7) % 64)) AS INT) AS n_bytes, " +
        "CAST(list_sum([ascii(substring(text, CAST(i % n AS INT) + 1, 1)) " +
        "for i in range(0, least(256, (16 + n % 64) * (16 + (n * 7) % 64)))]) % 1000000007 AS BIGINT) AS checksum " +
        "FROM d WHERE kind = 'image'), " +
        "auf AS (SELECT doc_id, kind, CAST(0 AS INT) AS frame_idx, CAST(least(256, 2 * n) AS INT) AS n_bytes, " +
        "CAST((2 * list_sum(list_transform(string_split(substring(text, 1, CAST(least(128, n) AS INT)), ''), c -> ascii(c))) " +
        "+ 128 * least(128, n)) % 1000000007 AS BIGINT) AS checksum " +
        "FROM d WHERE kind = 'audio'), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS w, CAST(8 + (n * 5) % 24 AS INT) AS h, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vf AS (SELECT doc_id, kind, CAST(f AS INT) AS frame_idx, CAST(w * h AS INT) AS n_bytes, " +
        "CAST(list_sum([ascii(substring(text, CAST((i + 11 * f) % n AS INT) + 1, 1)) for i in range(0, w * h)]) % 1000000007 AS BIGINT) AS checksum " +
        "FROM (SELECT v.*, unnest(range(0, nf, 2)) AS f FROM vid v)) " +
        "SELECT * FROM (SELECT * FROM imf UNION ALL SELECT * FROM auf UNION ALL SELECT * FROM vf) ORDER BY doc_id, frame_idx"),

    "stream_windowed_hll" ->
      ("SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS VARCHAR) AS window_start, event_type, " +
        "count(*) AS n_events, TRUE AS count_ok, TRUE AS hll_ok " +
        "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),

    "stream_dedup_exact" ->
      ("SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id, " +
        "TRUE AS stream_matches_batch, TRUE AS multi_batch_ok " +
        "FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text) ORDER BY kept_doc_id"),

    "stream_dedup_watermark" ->
      ("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), '2026-01-01 10:00:00'), " +
        "(CAST(3 AS BIGINT), '2026-01-01 11:10:00'), " +
        "(CAST(4 AS BIGINT), '2026-01-01 11:15:00'), " +
        "(CAST(5 AS BIGINT), '2026-01-01 11:30:00')" +
        ") AS t(doc_id, event_ts) ORDER BY doc_id"),

    "stream_user_state" ->
      ("SELECT user_id, count(DISTINCT event_type) AS n_types_exact, TRUE AS state_ok " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    "stream_tws_user_state" ->
      ("SELECT user_id, count(DISTINCT event_type) AS n_types_exact, TRUE AS state_ok " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    "stream_sessionize" ->
      ("WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase FROM events), " +
        "b AS (SELECT user_id, event_id, ts_us, cents, is_purchase, " +
        "CASE WHEN lag(ts_us) OVER ow IS NULL OR ts_us - lag(ts_us) OVER ow > 28800000000 " +
        "THEN 1 ELSE 0 END AS brk " +
        "FROM t WINDOW ow AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT user_id, ts_us, cents, is_purchase, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM b) " +
        "SELECT user_id, min(ts_us) AS start_us, " +
        "CAST(max(ts_us) + 28800000000 AS BIGINT) AS end_us, count(*) AS n_events, " +
        "CAST(sum(cents) AS BIGINT) AS cents, CAST(sum(is_purchase) AS BIGINT) AS n_purchases, " +
        "TRUE AS matches_batch " +
        "FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_us"),

    "stream_interval_join" ->
      ("SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id, " +
        "epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, " +
        "epoch_us(p.ts) - epoch_us(c.ts) AS lag_us " +
        "FROM events p JOIN events c ON p.user_id = c.user_id " +
        "AND p.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND c.ts >= p.ts - INTERVAL 8 HOUR AND c.ts <= p.ts " +
        "ORDER BY p_id, c_id"),

    "sketch_table_snapshots" ->
      ("SELECT source, TRUE AS versions_ok, TRUE AS snapshot_isolated, TRUE AS latest_matches_direct " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),

    "resumable_build" ->
      ("SELECT source, TRUE AS crashed_then_resumed, TRUE AS skipped_done_batches, " +
        "TRUE AS bloom_ok, TRUE AS hll_ok, TRUE AS n_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),

    "sketch_rollup" ->
      ("SELECT TRUE AS bloom_ok, TRUE AS hll_ok, TRUE AS cms_ok, TRUE AS td_ok, " +
        "TRUE AS kll_ok, TRUE AS freq_ok"),

    "op_c_wire_trace" -> CWireTraceOracle,

    // same protocol trace, driven over the TCP transport
    "op_tcp_wire_trace" -> CWireTraceOracle,

        "op_bloomd_restore" ->
      ("SELECT TRUE AS config_ok, TRUE AS layers_ok, TRUE AS size_ok, " +
        "TRUE AS zero_false_neg, TRUE AS no_false_pos_sample"),

    "op_rust_wire_trace" ->
      ("SELECT * FROM (VALUES " +
        "(1, 'create filter', 'Done'), " +
        "(2, 'create filter', 'Exists'), " +
        "(3, 'check filter first', '0'), " +
        "(4, 'set filter first', '1'), " +
        "(5, 'c filter first', '1'), " +
        "(6, 's filter first', '2'), " +
        "(7, 'c filter first', '2'), " +
        "(8, 's filter first', '3'), " +
        "(9, 'c filter first', '3'), " +
        "(10, 'set filetr first', 'Filter does not exist'), " +
        "(11, 'check filetr first', 'Filter does not exist'), " +
        "(12, 'set filter first second', 'Client Error: Bad arguments'), " +
        "(13, 'check filter', 'Client Error: Bad arguments'), " +
        "(14, 'set filter', 'Client Error: Bad arguments'), " +
        "(15, 'multi filter first second third', '3 0 0'), " +
        "(16, 'bulk filter first second third', '4 1 1'), " +
        "(17, 'b filter first second third', '5 2 2'), " +
        "(18, 'm filter first second third', '5 2 2'), " +
        "(19, 'bulk filetr first second third', 'Filter does not exist'), " +
        "(20, 'multi filetr first second third', 'Filter does not exist'), " +
        "(21, 'list fake_prefix', 'START / END'), " +
        "(22, 'list', 'START / filter 0.0001 239627 100000 3 / END'), " +
        "(23, 'info', 'Client Error: Bad arguments'), " +
        "(24, 'info filetr', 'Filter does not exist'), " +
        "(25, 'info filter', 'START / capacity 100000 / checks 10 / check_hits 7 / check_misses 3 / page_ins 0 / page_outs 0 / probability 0.0001 / sets 9 / set_hits 6 / set_misses 3 / size 3 / storage 239627 / END'), " +
        "(26, 'infor filter', 'Client Error: Command not supported'), " +
        "(27, 'sette filter first', 'Client Error: Command not supported'), " +
        "(28, 'flush', 'Done'), " +
        "(29, 'flush filter', 'Done'), " +
        "(30, 'close', 'Client Error: Bad arguments'), " +
        "(31, 'close filter', 'Done'), " +
        "(32, 'create filter', 'Exists'), " +
        "(33, 'clear filter', 'Done'), " +
        "(34, 'create filter', 'Done'), " +
        "(35, 'm filter first second third', '5 2 2'), " +
        "(36, 'drop', 'Client Error: Bad arguments'), " +
        "(37, 'drop filter', 'Done'), " +
        "(38, 'drop filter', 'Filter does not exist')" +
        ") AS t(step, command, response) ORDER BY step"),

    "q_rollup" ->
      ("SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls, " +
        "count(*) AS n_rows, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls"),

    "q_skew_salted" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, TRUE AS two_phase_ok " +
        "FROM orders GROUP BY 1 ORDER BY 1"),

    "q_bloom_prejoin" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders WHERE EXISTS (SELECT 1 FROM customer " +
        "WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING') " +
        "GROUP BY 1 ORDER BY 1"),

    "q_json_props" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    "q3_shipping" ->
      ("SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_date, CAST(revenue_cents AS BIGINT) AS revenue_cents FROM (" +
        "SELECT o_orderkey, o_orderdate, sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS revenue_cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue_cents DESC, o_orderkey LIMIT 10)"),

    "q_semi_join" ->
      ("SELECT c_custkey, c_mktsegment FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1%') " +
        "ORDER BY c_custkey"),

    "q_set_ops" ->
      ("SELECT k, op FROM (" +
        "SELECT k, 'with_orders' AS op FROM (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders) " +
        "UNION ALL " +
        "SELECT k, 'no_orders' AS op FROM (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)" +
        ") ORDER BY op, k"),

    "text_bpe_train" -> Bpe.oracleSql(6),
    "text_bpe_encode" -> Bpe.encodeOracleSql(6),

    "q_bucketed_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "0 AS join_shuffles " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1"),

    "q_salted_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "TRUE AS salted_exchange " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1"),

    "q_partition_prune" ->
      ("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars, " +
        "TRUE AS partition_pruned " +
        "FROM documents WHERE source = 'src7' GROUP BY 1 ORDER BY 1"),

    "q_zonemap_prune" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils, " +
        "TRUE AS range_pushed " +
        "FROM events WHERE epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) < 1705017600000 " +
        "GROUP BY 1 ORDER BY 1"),

    "q_parquet_bloom" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS key, " +
        "TRUE AS eq_pushed, TRUE AS bloom_pruned FROM documents " +
        "WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 42) " +
        "ORDER BY doc_id"),

    "q_zorder_layout" ->
      ("WITH mm AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events), " +
        "b AS (SELECT umin + (umax - umin + 1) // 2 AS ulo, " +
        "umin + (umax - umin + 1) // 2 + (umax - umin + 1) // 4 AS uhi FROM mm) " +
        "SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils, " +
        "TRUE AS range_pushed, TRUE AS cross_axis_pruned " +
        "FROM events, b WHERE user_id >= ulo AND user_id < uhi " +
        "GROUP BY event_type ORDER BY event_type"),

    "kmv_distinct_sources" ->
      (s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
        s"g AS (SELECT DISTINCT source, unnest($Sh) AS gram FROM t), " +
        "h AS (SELECT source, md5(gram) AS h FROM g), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS nd FROM h), " +
        "agg AS (SELECT source, CAST(max(nd) AS BIGINT) AS n_exact, " +
        "CASE WHEN max(nd) >= 64 THEN max(CASE WHEN rn = 64 THEN h END) END AS kth_hash, " +
        "CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) " +
        "ELSE 63 * 281474976710656 // CAST(concat('0x', substr(max(CASE WHEN rn = 64 THEN h END), 1, 12)) AS BIGINT) END AS est " +
        "FROM r GROUP BY source) " +
        "SELECT source, n_exact, kth_hash, CAST(est AS BIGINT) AS est, " +
        "abs(est - n_exact) * 5 <= n_exact * 2 AS est_ok FROM agg ORDER BY source"),

    "kmv_set_ops" ->
      (s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
        s"g AS (SELECT DISTINCT source, unnest($Sh) AS gram FROM t), " +
        "sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1), " +
        "hh AS (SELECT source, md5(gram) AS h FROM g), " +
        "pairs AS (SELECT a.source AS sa, b.source AS sb FROM sz a JOIN sz b ON a.source < b.source), " +
        "iv AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2), " +
        "uh AS (SELECT DISTINCT p.sa, p.sb, hh.h FROM pairs p JOIN hh ON hh.source IN (p.sa, p.sb)), " +
        "rk AS (SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn, " +
        "count(*) OVER (PARTITION BY sa, sb) AS nu FROM uh), " +
        "shared AS (SELECT rk.sa, rk.sb, count(*) AS n_shared " +
        "FROM rk JOIN hh ha ON ha.source = rk.sa AND ha.h = rk.h " +
        "JOIN hh hb ON hb.source = rk.sb AND hb.h = rk.h " +
        "WHERE rk.rn <= least(64, rk.nu) GROUP BY 1, 2), " +
        "nuv AS (SELECT sa, sb, CAST(max(nu) AS BIGINT) AS nu FROM rk GROUP BY 1, 2), " +
        "base AS (SELECT p.sa AS src_a, p.sb AS src_b, " +
        "CAST(COALESCE(iv.n_inter, 0) AS BIGINT) AS n_inter, " +
        "za.n + zb.n - CAST(COALESCE(iv.n_inter, 0) AS BIGINT) AS n_union, " +
        "CAST(COALESCE(shared.n_shared, 0) AS BIGINT) AS n_shared, " +
        "least(64, nuv.nu) AS denom " +
        "FROM pairs p JOIN sz za ON za.source = p.sa JOIN sz zb ON zb.source = p.sb " +
        "JOIN nuv ON nuv.sa = p.sa AND nuv.sb = p.sb " +
        "LEFT JOIN iv ON iv.sa = p.sa AND iv.sb = p.sb " +
        "LEFT JOIN shared ON shared.sa = p.sa AND shared.sb = p.sb) " +
        "SELECT src_a, src_b, n_inter, CAST(n_union AS BIGINT) AS n_union, n_shared, " +
        "CAST(1000 * n_shared // denom AS BIGINT) AS j_milli_est, " +
        "CAST(1000 * n_inter // n_union AS BIGINT) AS j_milli_exact, " +
        "abs(1000 * n_shared // denom - 1000 * n_inter // n_union) <= 250 AS est_ok " +
        "FROM base ORDER BY src_a, src_b"),

    "kmv_difference" ->
      (s"WITH t AS (SELECT doc_id, $W AS ws FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, unnest($Sh) AS gram FROM t), " +
        "corpus AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 != 0), " +
        "crawl AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 = 0), " +
        // each side's bottom-64 sketch: rank md5 hashes ascending
        "hc AS (SELECT md5(gram) AS h, row_number() OVER (ORDER BY md5(gram)) AS rn FROM corpus), " +
        "hw AS (SELECT md5(gram) AS h, row_number() OVER (ORDER BY md5(gram)) AS rn FROM crawl), " +
        "skc AS (SELECT h FROM hc WHERE rn <= 64), " +
        "skw AS (SELECT h FROM hw WHERE rn <= 64), " +
        // union-of-sketches bottom-64 = the union sample
        "uh AS (SELECT DISTINCT h FROM (SELECT h FROM skc UNION SELECT h FROM skw)), " +
        "ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nu FROM uh), " +
        "us AS (SELECT h, nu FROM ur WHERE rn <= least(64, nu)), " +
        "kth AS (SELECT max(h) AS kh, max(nu) AS nu, count(*) AS denom FROM us), " +
        "uest AS (SELECT CASE WHEN nu < 64 THEN CAST(nu AS BIGINT) " +
        "ELSE 63 * 281474976710656 // CAST(concat('0x', substr(kh, 1, 12)) AS BIGINT) END AS e, " +
        "denom FROM kth), " +
        "nns AS (SELECT count(*) AS n_new_sample FROM us " +
        "WHERE h IN (SELECT h FROM skw) AND h NOT IN (SELECT h FROM skc)), " +
        "base AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_corpus, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM crawl) AS n_crawl, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT gram FROM crawl EXCEPT SELECT gram FROM corpus)) AS n_new, " +
        "CAST(nns.n_new_sample AS BIGINT) AS n_new_sample, " +
        "CAST(uest.e AS BIGINT) AS u_est, CAST(uest.denom AS BIGINT) AS denom " +
        "FROM nns, uest) " +
        "SELECT n_corpus, n_crawl, n_corpus + n_new AS n_union, n_new, n_new_sample, " +
        "CAST(1000 * n_new_sample // denom AS BIGINT) AS d_milli_est, " +
        "CAST(1000 * n_new // (n_corpus + n_new) AS BIGINT) AS d_milli_exact, " +
        "CAST(n_new_sample * u_est // denom AS BIGINT) AS d_abs_est, " +
        "abs(1000 * n_new_sample // denom - 1000 * n_new // (n_corpus + n_new)) <= 250 AS est_ok, " +
        "abs(n_new_sample * u_est // denom - n_new) * 4 <= n_corpus + n_new + 64 AS est_abs_ok " +
        "FROM base"),

    "bloom_union_estimate" ->
      (s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
        s"g AS (SELECT DISTINCT source, unnest($Sh) AS gram FROM t), " +
        "per AS (SELECT source AS scope, CAST(count(*) AS BIGINT) AS n_exact FROM g GROUP BY 1), " +
        "uni AS (SELECT '*union*' AS scope, CAST(count(DISTINCT gram) AS BIGINT) AS n_exact FROM g) " +
        "SELECT scope, n_exact, TRUE AS est_ok, TRUE AS merge_ok " +
        "FROM (SELECT * FROM per UNION ALL SELECT * FROM uni) ORDER BY scope"),

    "sample_uniform" ->
      ("SELECT source, CAST(rank AS INT) AS rank, doc_id, coin, TRUE AS rollup_ok FROM (" +
        "SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS coin, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 4 ORDER BY source, rank"),

    "topk_per_source" ->
      ("SELECT source, CAST(rank AS INT) AS rank, n_chars, doc_id, TRUE AS rollup_ok FROM (" +
        "SELECT source, CAST(n_chars AS BIGINT) AS n_chars, CAST(doc_id AS VARCHAR) AS doc_id, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY CAST(n_chars AS BIGINT) DESC, CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 3 ORDER BY source, rank"),

    "q_asof_join" ->
      ("WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe, " +
        "CAST(round(value * 100) AS BIGINT) AS cents " +
        "FROM events WHERE event_type IN ('purchase', 'click')), " +
        "w AS (SELECT event_id, user_id, ts_us, is_probe, " +
        "last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS) OVER ow AS ref_event_id, " +
        "last_value(CASE WHEN is_probe = 0 THEN ts_us END IGNORE NULLS) OVER ow AS ref_ts_us, " +
        "last_value(CASE WHEN is_probe = 0 THEN cents END IGNORE NULLS) OVER ow AS ref_cents " +
        "FROM t WINDOW ow AS (PARTITION BY user_id ORDER BY ts_us, is_probe, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, ts_us, ref_event_id, ref_ts_us, ref_cents, " +
        "ts_us - ref_ts_us AS lag_us FROM w WHERE is_probe = 1 ORDER BY event_id"),

    "q_sessionize" ->
      ("WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase FROM events), " +
        "b AS (SELECT user_id, event_id, ts_us, cents, is_purchase, " +
        "CASE WHEN lag(ts_us) OVER ow IS NULL OR ts_us - lag(ts_us) OVER ow > 28800000000 " +
        "THEN 1 ELSE 0 END AS brk " +
        "FROM t WINDOW ow AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT user_id, ts_us, cents, is_purchase, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM b) " +
        "SELECT user_id, session_idx, count(*) AS n_events, " +
        "min(ts_us) AS start_us, max(ts_us) AS end_us, " +
        "CAST(sum(cents) AS BIGINT) AS cents, CAST(sum(is_purchase) AS BIGINT) AS n_purchases " +
        "FROM s GROUP BY 1, 2 ORDER BY 1, 2")
  )
}
