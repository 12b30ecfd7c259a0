package graft.gates

import graft.gates.Shared._
import graft.gates.TemporalGates.Temporal8hUs
import graft.pipeline._
import graft.streaming.StreamSinks.{pinMtimes, stageFiles}
import org.apache.spark.sql.functions._

/** Streaming gates: each always-on operator drains a staged file
  * stream and is compared with its batch answer. The streaming twins
  * of pipeline_decontam and retrieval_bm25 sit beside those gates,
  * whose oracle they share. */
object StreamingGates {

  val all: Seq[Gate] = Seq(
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
    Gate("stream_merge_upsert", (s, dir) => {
      import graft.catalog.SketchTableIO
      val tmp = graft.util.Scratch.tempDir("graftsmerge")
      val in = tmp.resolve("in").toString
      val root = tmp.resolve("table").toString
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      // the v1 corpus commit and the ordered seed writes are
      // independent job chains — overlap them (the drain needs both)
      val io0 = new SketchTableIO(s, root)
      val commitF = alongside { io0.commit(d) }
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
      commitF()
      // the time-travel check reads only v1 (committed above) — it
      // runs concurrently with the merge drain
      val v1OkF = alongside {
        io0.read(1).count() == d.count()
      }
      val merged = graft.streaming.StreamMerge.applyChanges(
        s, in, root, "doc_id", tmp.resolve("cp").toString)
      val t = new SketchTableIO(s, root)
      val v1Ok = v1OkF()
      merged.select(col("doc_id"), col("source"),
          md5(col("text")).as("text_md5"),
          lit(t.currentVersion).as("version"), lit(v1Ok).as("time_travel_ok"))
        .orderBy("doc_id")
    },
      Some("WITH base AS (SELECT doc_id, source, text FROM documents), " +
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
        "FROM final ORDER BY doc_id")),

    // always-on incremental near-dedup: the fresh crawl (same planted
    // split as dedup_incremental) streams in and scrubs against the
    // static released corpus through the SAME corpusMatches core;
    // corpus-only contract (intra-crawl suppression is the batch
    // compaction job's half), stateless per doc so batching can't
    // change any answer
    Gate("stream_dedup_incremental", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsdi")
      val in = tmp.resolve("in").toString
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val fresh = d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      val seedF = alongside {
        fresh.coalesce(2)
          .write.mode("overwrite").parquet(in)
      }
      graft.streaming.StreamDedupIncremental.scrubStream(
        s, in, corpus,
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        minJ = 0.5, awaitInput = seedF)
        .orderBy("doc_id")
    },
      Some("WITH corpus AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id % 3 <> 0), " +
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
        "FROM fresh f LEFT JOIN agg ON f.id = agg.doc_id ORDER BY doc_id")),

    // always-on exact-substring scrub: fresh pre-tokenized docs
    // (reversed corpus tokens under shifted ids — mostly corpus-clean)
    // stream in; every 4th doc carries a planted 10-token corpus
    // prefix whose windows must be cut, so the scrub is falsifiable in
    // both directions. Same cut core as dedup_substrings.
    Gate("stream_substring_scrub", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsss")
      val in = tmp.resolve("in").toString
      val corpus = TokenTable.load(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("tokens"))
      val fresh = corpus
        .select((col("doc_id") + 100000L).as("doc_id"),
          when(col("doc_id") % 4 === 0,
            expr("concat(slice(tokens, 1, 10), reverse(tokens))"))
            .otherwise(reverse(col("tokens"))).as("tokens"))
      val seedF = alongside {
        fresh.coalesce(2)
          .write.mode("overwrite").parquet(in)
      }
      graft.streaming.StreamSubstringScrub.scrubStream(
        s, in, corpus,
        tmp.resolve("cp").toString, tmp.resolve("out").toString,
        L = 8, awaitInput = seedF)
        .orderBy("doc_id")
    },
      // streaming corpus scrub replay: fresh-doc windows that appear in
      // the corpus window set are cut (the corpus copy is the earlier
      // occurrence by definition), clean_csv rebuilt position-by-position
      Some(s"WITH tt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
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
        "FROM fresh LEFT JOIN ag USING (doc_id) LEFT JOIN cl USING (doc_id) ORDER BY doc_id")),

    Gate("stream_sketch_incremental", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstream")
      val in = tmp.resolve("in").toString
      val cp = tmp.resolve("cp").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      // one-shot batch sketches materialize concurrently with the drain
      val batchF = alongside {
        graft.streaming.SketchStream.batchSketches(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.SketchStream.runIncremental(s, in, cp)
      graft.streaming.SketchStream.compareSketches(streamed, batchF())
        .select(col("source"), (col("n_batches") > 1).as("multi_batch_ok"),
          col("rows_ok"), col("bloom_ok"), col("hll_ok"))
        .orderBy("source")
    },
      Some("SELECT source, TRUE AS multi_batch_ok, TRUE AS rows_ok, TRUE AS bloom_ok, TRUE AS hll_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // always-on heavy hitters: per-batch Misra–Gries partials merged
    // into catalog-sized state; the mergeable-summaries guarantee
    // must hold against exact per-token truth no matter how the
    // stream was batched
    Gate("stream_freq_heavy_hitters", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftfreq")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      val batchF = alongside {
        graft.streaming.SketchStream.batchFreqTruth(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.SketchStream.runIncrementalFreq(
        s, in, tmp.resolve("cp").toString)
      graft.streaming.SketchStream.compareFreq(streamed, batchF())
    },
      Some("SELECT source, TRUE AS multi_batch_ok, TRUE AS rows_ok, TRUE AS guarantee_ok, " +
        "TRUE AS heavy_tracked_ok, TRUE AS err_bound_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // always-on exact top-k: per-batch TopK partials merged into
    // k-row running state; exactness under arbitrary batch
    // boundaries means the drained ranks are DuckDB-replayable row
    // for row (stronger than the heavy-hitter contract gate)
    Gate("stream_topk", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("grafttopk")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      graft.streaming.SketchStream.runIncrementalTopK(
        s, in, tmp.resolve("cp").toString)
        .orderBy("source", "rank")
    },
      Some(s"SELECT source, CAST(rank AS INT) AS rank, n_tok, doc_id, TRUE AS multi_batch_ok FROM (" +
        s"SELECT source, CAST(len($W) AS BIGINT) AS n_tok, CAST(doc_id AS VARCHAR) AS doc_id, " +
        s"row_number() OVER (PARTITION BY source " +
        s"ORDER BY CAST(len($W) AS BIGINT) DESC, CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 3 ORDER BY source, rank")),

    // the always-on updater committing every micro-batch merge to a
    // VERSIONED sketch table (no driver collect; batch_id-idempotent
    // commits): final snapshot == one-shot batch, history monotone
    Gate("stream_sketch_table", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstb")
      val in = tmp.resolve("in").toString
      TokenTable.load(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      val io = new graft.catalog.SketchTableIO(s, tmp.resolve("table").toString)
      val batchF = alongside {
        graft.streaming.SketchStream.batchSketches(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.SketchStream.runIncrementalToTable(
        s, in, tmp.resolve("cp").toString, io)
      val growth = (1L to io.currentVersion).map(v =>
        io.read(v).agg(sum(col("n_rows"))).head().getLong(0))
      val monotone = growth.zip(growth.tail).forall { case (a, b) => a <= b }
      graft.streaming.SketchStream.compareSketches(streamed, batchF())
        .select(col("source"), (col("n_batches") > 1).as("multi_version_ok"),
          lit(monotone).as("history_monotone"),
          col("rows_ok"), col("bloom_ok"), col("hll_ok"))
        .orderBy("source")
    },
      Some("SELECT source, TRUE AS multi_version_ok, TRUE AS history_monotone, " +
        "TRUE AS rows_ok, TRUE AS bloom_ok, TRUE AS hll_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // watermarked event-time windows + Catalyst sketch agg in streaming;
    // final upserts must equal the one-shot batch windowed aggregation
    Gate("stream_windowed_hll", (s, dir) => {
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
      pinMtimes(in)(1000000000000L, Set.empty)
      // 4 state partitions: proportionate to the gate corpus (the
      // stream_interval_join precedent); exact operator, so the
      // answer is partitioning-invariant
      val batchF = alongside {
        graft.streaming.WindowedSketch.batchWindowed(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.WindowedSketch.windowedHll(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareWindowed(streamed, batchF())
    },
      Some("SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS VARCHAR) AS window_start, event_type, " +
        "count(*) AS n_events, TRUE AS count_ok, TRUE AS hll_ok " +
        "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type")),

    // streaming exact dedup: dropDuplicates state across micro-batches;
    // originals replay strictly before their duplicates (two write
    // phases with pinned mtimes), so first-arrived == lowest doc_id ==
    // the batch operator's keep rule, exactly
    Gate("stream_dedup_exact", (s, dir) => {
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
      val batchF = alongside {
        Dedup.exactDedup(dup).localCheckpoint()
      }
      val streamed = graft.streaming.StreamDedup.dedupExact(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        maxFilesPerTrigger = 1, statePartitions = 4)
      val batchKept = batchF()
      streamed.join(batchKept, Seq("fp"))
        .select(col("fp"), col("kept_doc_id"),
          (col("doc_id") === col("kept_doc_id")).as("stream_matches_batch"),
          (col("n_batches") > 1).as("multi_batch_ok"))
        .orderBy("kept_doc_id")
    },
      Some("SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id, " +
        "TRUE AS stream_matches_batch, TRUE AS multi_batch_ok " +
        "FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text) ORDER BY kept_doc_id")),

    // horizon-bounded streaming dedup: dropDuplicatesWithinWatermark
    // over a pinned one-file-per-trigger replay — the kept set is
    // fully deterministic (drop inside the 30m horizon, re-admit after
    // state expiry + the eviction-at-commit lag), so the oracle is the
    // exact expected keep set
    Gate("stream_dedup_watermark", (s, dir) => {
      import s.implicits._
      val tmp = graft.util.Scratch.tempDir("graftwmd")
      val in = tmp.resolve("in")
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
      stageFiles(in, rows.map(r => Seq(r).toDF("doc_id", "text", "ts")))
      graft.streaming.StreamDedup.dedupWithinWatermark(s, in.toString,
          tmp.resolve("cp").toString, tmp.resolve("out").toString,
          tsCol = "ts", delay = "30 minutes", statePartitions = 4)
        // UTC wall clock without reading the session zone: the instant's
        // epoch micros added to the zone-free TIMESTAMP_NTZ epoch
        .select(col("doc_id"), expr("timestampadd(MICROSECOND, unix_micros(ts), " +
          "TIMESTAMP_NTZ'1970-01-01 00:00:00')").cast("string").as("event_ts"))
        .orderBy("doc_id")
    },
      Some("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), '2026-01-01 10:00:00'), " +
        "(CAST(3 AS BIGINT), '2026-01-01 11:10:00'), " +
        "(CAST(4 AS BIGINT), '2026-01-01 11:15:00'), " +
        "(CAST(5 AS BIGINT), '2026-01-01 11:30:00')" +
        ") AS t(doc_id, event_ts) ORDER BY doc_id")),

    // custom per-key sketch state (mapGroupsWithState): bloom of event
    // types per user; bounded state, exact at this cardinality
    Gate("stream_user_state", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftstate")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(in)
      // exact batch answer materializes concurrently with the drain
      val batchF = alongside {
        graft.streaming.WindowedSketch.batchUserTypeCounts(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.WindowedSketch.userTypeState(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareUserState(streamed, batchF())
    },
      Some("SELECT user_id, count(DISTINCT event_type) AS n_types_exact, TRUE AS state_ok " +
        "FROM events GROUP BY user_id ORDER BY user_id")),

    // same contract on the transformWithState API (explicit ValueState
    // schema over the RocksDB store) — Spark 4's arbitrary-state operator
    Gate("stream_tws_user_state", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("grafttws")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(in)
      val batchF = alongside {
        graft.streaming.WindowedSketch.batchUserTypeCounts(s, in).localCheckpoint()
      }
      val streamed = graft.streaming.WindowedSketch.userTypeStateTws(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        statePartitions = 4)
      graft.streaming.WindowedSketch.compareUserState(streamed, batchF())
    },
      Some("SELECT user_id, count(DISTINCT event_type) AS n_types_exact, TRUE AS state_ok " +
        "FROM events GROUP BY user_id ORDER BY user_id")),

    // streaming gap sessionization on the native session_window
    // aggregation (append mode): time-ordered replay + one far-future
    // sentinel event whose watermark advance closes — and the trailing
    // no-data micro-batch emits — every real session; result must
    // match the batch operator session-for-session
    Gate("stream_sessionize", (s, dir) => {
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
      val batchF = alongside {
        graft.streaming.StreamSessionize.batchSessions(s, in, Temporal8hUs).localCheckpoint()
      }
      val streamed = graft.streaming.StreamSessionize.sessionize(
        s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
        gap = "8 hours", statePartitions = 4)
      graft.streaming.StreamSessionize.compareSessions(streamed, batchF())
        .orderBy("user_id", "start_us")
    },
      Some("WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
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
        "FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_us")),

    // stream-stream watermarked interval join: purchases x clicks of
    // the same user within the trailing 8h, both sides live streams;
    // inner-join emission is match-driven (no sentinel), watermarks
    // bound the symmetric join state; drained pairs == batch interval
    // join exactly
    Gate("stream_interval_join", (s, dir) => {
      val tmp = graft.util.Scratch.tempDir("graftsij")
      val in = tmp.resolve("in").toString
      s.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(in)
      pinMtimes(in)(1000000000000L, Set.empty)
      // 2 data batches per source and 4 state partitions: multi-batch
      // cross-batch matching still exercised, but the dominant cost —
      // 4 join state stores x partitions x batches of commit constants
      // — stays proportionate to the 10k-row gate corpus
      graft.streaming.StreamJoins.intervalJoin(
          s, in, tmp.resolve("cp").toString, tmp.resolve("out").toString,
          probeType = "purchase", refType = "click", window = "8 hours",
          maxFilesPerTrigger = 4, statePartitions = 4)
        .orderBy("p_id", "c_id")
    },
      Some("SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id, " +
        "epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, " +
        "epoch_us(p.ts) - epoch_us(c.ts) AS lag_us " +
        "FROM events p JOIN events c ON p.user_id = c.user_id " +
        "AND p.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND c.ts >= p.ts - INTERVAL 8 HOUR AND c.ts <= p.ts " +
        "ORDER BY p_id, c_id"))
  )
}
