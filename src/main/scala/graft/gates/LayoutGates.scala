package graft.gates

import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Source-format and physical-layout gates: JSONL/ORC/CSV round trips,
  * the snapshot-table MERGE, bucketed and salted joins, and partition,
  * zone-map, z-order and parquet-bloom scan pruning. */
object LayoutGates {

  val all: Seq[Gate] = Seq(
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
    Gate("source_jsonl", (s, dir) => {
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
    },
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5 " +
        "FROM documents ORDER BY doc_id")),

    // ---- source format: ORC round trip ----------------------------------
    // same fidelity contract as source_jsonl for the other columnar
    // format Spark ships: write the documents table as ORC, read it
    // back with the EXPLICIT schema, emit per-doc fidelity columns the
    // oracle recomputes from parquet — any loss in the ORC path
    // (encoding, nulls, long/int coercion, dropped rows) fails the
    // row/hash compare.
    Gate("source_orc", (s, dir) => {
      val d = docs(s, dir)
      val tmp = graft.util.Scratch.tempDir("graftorc")
      val path = tmp.resolve("docs").toString
      d.write.mode("overwrite").orc(path)
      s.read.schema(d.schema).orc(path)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          length(col("text")).as("text_len"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5 " +
        "FROM documents ORDER BY doc_id")),

    // ---- source format: CSV round trip (quoting/escape/multiline) -------
    // the third wire format corpora ship in. The natural corpus is
    // CSV-benign (no commas, quotes, or newlines in text), so the
    // gate PLANTS all three on every 17th doc — the quoting, escape,
    // and multiline-record paths are what the fidelity hash tests;
    // the oracle replays plant + projection from parquet. Reading
    // uses the explicit schema (never infer over 100 TB) and
    // RFC-4180 doubled-quote escaping on both sides.
    Gate("source_csv", (s, dir) => {
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
    },
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(length(t) AS BIGINT) AS text_len, md5(t) AS text_md5 FROM (" +
        "SELECT doc_id, source, lang, n_chars, " +
        "CASE WHEN doc_id % 17 = 0 THEN concat(text, ' x,\"q\"' || chr(10) || 'y') " +
        "ELSE text END AS t FROM documents) ORDER BY doc_id")),

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
    Gate("table_merge_upsert", (s, dir) => {
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
      val v1OkF = alongside {
        t.read(1).count() == d.count()
      }
      val v2 = t.mergeCommit(changes, "doc_id")
      val v1Ok = v1OkF()
      t.read().select(col("doc_id"), col("source"),
          md5(col("text")).as("text_md5"),
          lit(v2).as("version"), lit(v1Ok).as("time_travel_ok"))
        .orderBy("doc_id")
    },
      Some("WITH base AS (SELECT doc_id, source, text FROM documents), " +
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
        "FROM final ORDER BY doc_id")),

    // ---- physical layout (shuffle-free joins, scan pruning) -------------
    // bucketed co-located join: both sides written hash-bucketed on
    // their join key — the shuffle is paid ONCE at write time and
    // amortizes over every later join. The fact⋈dim join then runs
    // with ZERO exchanges under the join node, pinned into the
    // oracle via the join_shuffles column (counted on the pre-AQE
    // physical plan, so AQE's runtime rewrites can't mask a shuffle)
    Gate("q_bucketed_join", (s, dir) => {
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
    },
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "0 AS join_shuffles " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1")),

    // skew-safe salted shuffle join (the join-side complement of
    // q_skew_salted's two-phase agg): dim replicated per salt, fact
    // hash-split across salts, so a hot key runs on `salts` tasks.
    // Row-identical to the plain join — the oracle replays it plainly
    // — and both exchanges hashing on (key, salt) is pinned via the
    // salted_exchange column (clustering arity 2 on both sides)
    Gate("q_salted_join", (s, dir) => {
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
    },
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "TRUE AS salted_exchange " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1")),

    // hive-style directory partitioning: an equality predicate on the
    // partition column prunes at PLAN time — directories for the
    // other 19 sources are never opened or read. Evidence (non-empty
    // partitionFilters on every scan AND the executed scan's numFiles
    // metric equal to the one selected directory's file count) is
    // part of the gated answer
    Gate("q_partition_prune", (s, dir) => {
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
    },
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars, " +
        "TRUE AS partition_pruned " +
        "FROM documents WHERE source = 'src7' GROUP BY 1 ORDER BY 1")),

    // sorted-shard zone maps: range-partition + sort-within by time,
    // so parquet row-group min/max stats line up with the predicate
    // axis and a pushed range filter skips whole row groups — scan
    // cost ∝ selected range, not table size. The gate pins that both
    // range bounds actually REACHED the reader (PushedFilters); the
    // row-group-skip ratio itself is spec-measured (LayoutSpec)
    Gate("q_zonemap_prune", (s, dir) => {
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
    },
      Some("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils, " +
        "TRUE AS range_pushed " +
        "FROM events WHERE epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) < 1705017600000 " +
        "GROUP BY 1 ORDER BY 1")),

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
    Gate("q_zorder_layout", (s, dir) => {
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
    },
      Some("WITH mm AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events), " +
        "b AS (SELECT umin + (umax - umin + 1) // 2 AS ulo, " +
        "umin + (umax - umin + 1) // 2 + (umax - umin + 1) // 4 AS uhi FROM mm) " +
        "SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils, " +
        "TRUE AS range_pushed, TRUE AS cross_axis_pruned " +
        "FROM events, b WHERE user_id >= ulo AND user_id < uhi " +
        "GROUP BY event_type ORDER BY event_type")),

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
    Gate("q_parquet_bloom", (s, dir) => {
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
    },
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS key, " +
        "TRUE AS eq_pushed, TRUE AS bloom_pruned FROM documents " +
        "WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 42) " +
        "ORDER BY doc_id"))
  )
}
