package graft.gates

import graft.agg.GraftFunctions._
import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch gates: each sketch family's published guarantee (no false
  * negatives, fp or count error within bound, estimate within the
  * published error) as boolean columns, plus set operations, rollups,
  * versioned sketch tables and a resumable build. */
object SketchGates {

  private val V = TokenTable.vocabDuckArray
  private val tokensFrom =
    s"(SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, list_position($V, w) - 1 AS token " +
      s"FROM (SELECT doc_id, source, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents))"

  val all: Seq[Gate] = Seq(
    // bloom `bulk`+`check`: zero false negatives over every inserted
    // (source, token) pair — `csrc/libbloom/bloom.c:105-150` semantics
    Gate("bloom_member_tokens", (s, dir) => {
      val toks = TokenTable.tokens(s, dir)
      val sketches = toks.groupBy("source")
        .agg(bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("sketch"))
      toks.select("source", "token").distinct()
        .join(broadcast(sketches), Seq("source"))
        .select(col("source"), col("token"),
          bloom_contains(col("sketch"), col("token").cast("string")).as("present"))
        .orderBy("source", "token")
    },
      Some(s"SELECT source, token, TRUE AS present FROM (SELECT DISTINCT source, token FROM $tokensFrom) ORDER BY source, token")),

    // bloom FP bound at design load: 20k inserts into a 20k-capacity
    // p=0.01 filter, probed with 20k never-inserted keys
    // (mirrors tests/libbloom/test_bloom.c:430-478)
    Gate("bloom_fp_bound", (s, dir) => {
      val ins = s.range(20000).select(concat(lit("ins"), col("id")).as("key"))
      val sk = ins.agg(bloom_agg(col("key"), 20000L, 0.01).as("sketch"))
      val probes = s.range(20000).select(concat(lit("abs"), col("id")).as("key"))
        .crossJoin(broadcast(sk))
      val fpCount = probes
        .select(when(bloom_contains(col("sketch"), col("key")), 1L).otherwise(0L).as("hit"))
        .agg(sum(col("hit")).as("fp"))
      val fnCount = ins.crossJoin(broadcast(sk))
        .select(when(bloom_contains(col("sketch"), col("key")), 0L).otherwise(1L).as("miss"))
        .agg(sum(col("miss")).as("fn"))
      fpCount.crossJoin(fnCount).select(
        (col("fp") <= lit(20000L * 0.01 * 2.5)).as("fp_ok"),
        (col("fn") === 0L).as("zero_false_neg"))
    },
      Some("SELECT TRUE AS fp_ok, TRUE AS zero_false_neg")),

    // SBF per-source over doc ids: membership + size within count error
    Gate("sbf_member_docs", (s, dir) => {
      val docs = TokenTable.load(s, dir).select("source", "doc_id")
      val sketches = docs.groupBy("source").agg(
        sbf_agg(col("doc_id"), 10000L, 1e-4, 4, 0.9).as("sketch"))
      val truth = docs.groupBy("source").agg(countDistinct("doc_id").as("n"))
      docs.join(broadcast(sketches), Seq("source"))
        .select(col("source"), col("doc_id"),
          sbf_contains(col("sketch"), col("doc_id")).as("present"))
        .groupBy("source").agg(min(col("present")).as("all_present"))
        .join(sketches, Seq("source")).join(truth, Seq("source"))
        .select(col("source"), col("all_present"),
          (sbf_size(col("sketch")) <= col("n") &&
            sbf_size(col("sketch")) >= (col("n") * 0.99).cast("long")).as("size_ok"))
        .orderBy("source")
    },
      Some("SELECT source, TRUE AS all_present, TRUE AS size_ok FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // LBF multiplicity: merged count within [1, inserted multiplicity].
    // The layered filter is a SMALL-COUNT structure — one layer per
    // repeat of a key (`src/lbf.rs`), cost and storage O(max count) —
    // so lbf_agg itself caps layer growth (maxCount, default 5; the
    // Rust server's own tests count to ~3). The build here feeds RAW
    // corpus multiplicities (~10^3 on this small-vocab corpus) and the
    // operator enforces its regime — without the cap this was a 303 s
    // build (thousands of layers, megabyte blobs), measured in round 1.
    Gate("lbf_multiplicity", (s, dir) => {
      // truth and sketch sides both scan the tokenization - one pass
      val toks = TokenTable.tokens(s, dir).localCheckpoint(true)
      val truth = toks.groupBy("source", "token").agg(count(lit(1)).as("m_true"))
      val sketches = toks.groupBy("source")
        .agg(lbf_agg(col("token").cast("string"), 100000L, 1e-4).as("sketch"))
      truth.join(broadcast(sketches), Seq("source"))
        .select(col("source"), col("token"), col("m_true"),
          (lbf_count(col("sketch"), col("token").cast("string")) >= 1 &&
            lbf_count(col("sketch"), col("token").cast("string")) <= least(col("m_true"), lit(5L))).as("count_ok"))
        .orderBy("source", "token")
    },
      Some(s"SELECT source, token, count(*) AS m_true, TRUE AS count_ok FROM $tokensFrom GROUP BY source, token ORDER BY source, token")),

    // per-row invariant from the north rule: n_tok == size(tokens),
    // token ids reproduce the reference derivation exactly. The token
    // array is emitted as its canonical CSV rendering (scalar column)
    // so the gate harness can sort/hash rows — string equality of the
    // rendering is array equality (round-1 gate erred on the raw
    // array<int> column: pandas can't factorize ndarray cells).
    Gate("token_table_invariant", (s, dir) => {
      TokenTable.load(s, dir)
        .select(col("doc_id"),
          array_join(col("tokens").cast("array<string>"), ",").as("tokens_csv"),
          col("n_tok"), col("source"),
          (col("n_tok") === size(col("tokens"))).as("n_tok_ok"))
        .orderBy(col("doc_id").cast("long"))
    },
      Some(s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        s"array_to_string(list_transform(regexp_split_to_array(text, '\\s+'), w -> CAST(list_position($V, w) - 1 AS INT)), ',') AS tokens_csv, " +
        s"CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_tok, source, TRUE AS n_tok_ok " +
        "FROM documents ORDER BY doc_id")),

    // the SQL surface end-to-end: the same engine driven entirely by
    // SQL text through the graft_* functions that GraftExtensions
    // installs in every session
    Gate("q_sql_surface", (s, dir) => {
      // NOT checkpointed (unlike the token-sketch gates): the three
      // graft_toks scans here each feed heavy ObjectHashAggregates,
      // and re-reading the materialized post-explode rows from the
      // block manager measured SLOWER (11 s vs 8 s) than three
      // codegen'd parquet re-scans of the 5k-doc table
      TokenTable.tokens(s, dir).createOrReplaceTempView("graft_toks")
      // all 8 sketch aggregates + probes + a pure-SQL MERGE rollup
      // (per-source HLLs merged to the global sketch, checked against
      // the true global distinct count) — the whole engine driven by
      // SQL text through the graft_* registry.
      // Sketch params here are sized for what THIS gate asserts —
      // registry dispatch + membership/total booleans that hold at
      // any capacity/width (bloom/sbf/lbf have no false negatives;
      // cms_total and kll_n are exact by construction) — not for the
      // accuracy contracts, which keep reference/production params in
      // their dedicated gates (bloom_member_tokens and
      // lbf_multiplicity at the 100k server default, cms_freq_bound
      // at eps 1e-4, bloom_fp_bound at design load). At the old
      // params the partial-aggregation buffers (234 KB bloom + up to
      // 5x234 KB lbf layers + 544 KB cms, per source per partition)
      // were ~700 MB of allocation churn per run — measured as the
      // difference between this leg's 8.3 s and 2.7 s floors
      s.sql("""
        WITH sk AS (
          SELECT source,
                 graft_bloom_agg(token, 20000, 0.001) AS bloom,
                 graft_sbf_agg(token) AS sbf,
                 graft_lbf_agg(token, 20000, 0.001) AS lbf,
                 graft_hll_agg(token, 14) AS hll,
                 graft_cms_agg(token, 0.001, 0.01) AS cms,
                 graft_tdigest_agg(CAST(token AS DOUBLE), 100.0) AS td,
                 graft_kll_agg(CAST(token AS DOUBLE), 200) AS kll,
                 graft_freq_agg(token, 32) AS freq,
                 graft_kmv_agg(token, 64) AS kmv,
                 graft_topk_agg(CAST(token AS BIGINT), token, 5) AS tk,
                 MAX(CAST(token AS BIGINT)) AS max_tok,
                 COUNT(*) AS n,
                 COUNT(DISTINCT token) AS nd,
                 MIN(token) AS probe_tok
          FROM graft_toks GROUP BY source),
        g AS (
          SELECT graft_hll_estimate(graft_hll_merge_agg(hll)) AS global_est,
                 graft_kmv_estimate(graft_kmv_merge_agg(kmv)) AS global_kmv_est FROM sk),
        truth AS (
          SELECT COUNT(DISTINCT token) AS global_nd FROM graft_toks)
        SELECT source, n,
               graft_bloom_contains(bloom, probe_tok) AS bloom_ok,
               graft_sbf_contains(sbf, probe_tok) AS sbf_ok,
               graft_lbf_count(lbf, probe_tok) >= 1 AS lbf_ok,
               ABS(graft_hll_estimate(hll) - nd) <= GREATEST(2.0, nd * 3 * 1.04 / SQRT(16384)) AS hll_ok,
               graft_cms_total(cms) = n AS cms_ok,
               graft_kll_n(kll) = n AS kll_ok,
               graft_freq_total(freq) = n AND graft_freq_error(freq) * 33 <= n
                 AND graft_freq_estimate(freq, probe_tok) <= n AS freq_ok,
               graft_tdigest_cdf(td, graft_tdigest_quantile(td, 0.5)) BETWEEN 0.4 AND 0.6 AS td_ok,
               graft_topk_items(tk)[0].score = max_tok
                 AND SIZE(graft_topk_items(tk)) = LEAST(5, CAST(n AS INT)) AS topk_ok,
               ABS(graft_kmv_estimate(kmv) - nd) * 100 <= GREATEST(200, nd * 40)
                 AND graft_kmv_union_estimate(kmv, kmv) = graft_kmv_estimate(kmv)
                 AND graft_kmv_shared_in_union(kmv, kmv) = LEAST(64, CAST(nd AS INT)) AS kmv_ok,
               ABS(g.global_est - truth.global_nd) <=
                 GREATEST(2.0, truth.global_nd * 3 * 1.04 / SQRT(16384)) AS merged_hll_ok,
               ABS(g.global_kmv_est - truth.global_nd) * 100 <=
                 GREATEST(200, truth.global_nd * 40) AS merged_kmv_ok,
               graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) = 11.0D AS vec_ok,
               graft_quantize_int8(array(2.0D, -1.0D)).qv = array(127L, -63L) AS quant_ok,
               SIZE(graft_lsh_buckets(array(1.0D, 2.0D), 4, 3)) = 4 AS lsh_ok,
               SIZE(graft_minhash_sig(array('a', 'b'), 16)) = 16 AS minhash_ok,
               graft_simhash64(array('a')) <> 0L AS simhash_ok,
               graft_nfc('Cafe\u0301') = 'Caf\u00E9'
                 AND graft_strip_accents('Caf\u00E9') = 'Cafe' AS unicode_ok
        FROM sk CROSS JOIN g CROSS JOIN truth ORDER BY source""")
    },
      Some(s"SELECT source, count(*) AS n, TRUE AS bloom_ok, TRUE AS sbf_ok, TRUE AS lbf_ok, " +
        "TRUE AS hll_ok, TRUE AS cms_ok, TRUE AS kll_ok, TRUE AS freq_ok, TRUE AS td_ok, TRUE AS topk_ok, TRUE AS kmv_ok, TRUE AS merged_hll_ok, TRUE AS merged_kmv_ok, " +
        "TRUE AS vec_ok, TRUE AS quant_ok, TRUE AS lsh_ok, TRUE AS minhash_ok, TRUE AS simhash_ok, " +
        "TRUE AS unicode_ok " +
        s"FROM $tokensFrom GROUP BY source ORDER BY source")),

    // HLL companion: distinct docs per source within published error
    // (linear-counting regime at this scale -> tolerance max(2, 3*se*n))
    Gate("hll_distinct_docs", (s, dir) => {
      val docs = TokenTable.load(s, dir).select("source", "doc_id")
      val sk = docs.groupBy("source").agg(hll_agg(col("doc_id"), 14).as("sk"))
      val truth = docs.groupBy("source").agg(countDistinct("doc_id").as("n_exact"))
      truth.join(sk, Seq("source"))
        .select(col("source"), col("n_exact"),
          (abs(hll_estimate(col("sk")) - col("n_exact")) <=
            greatest(lit(2.0), col("n_exact") * (3 * 1.04 / math.sqrt(1 << 14)))).as("hll_ok"))
        .orderBy("source")
    },
      Some("SELECT source, count(DISTINCT doc_id) AS n_exact, TRUE AS hll_ok " +
        "FROM documents GROUP BY source ORDER BY source")),

    // CMS companion: per-(source,token) frequency within eps-delta bound
    Gate("cms_freq_bound", (s, dir) => {
      // truth and sketch sides both scan the tokenization - one pass
      val toks = TokenTable.tokens(s, dir).localCheckpoint(true)
      val sk = toks.groupBy("source").agg(
        cms_agg(col("token").cast("string"), 1e-4, 0.01).as("sk"),
        count(lit(1)).as("n_total"))
      val truth = toks.groupBy("source", "token").agg(count(lit(1)).as("m_true"))
      truth.join(broadcast(sk), Seq("source"))
        .select(col("source"), col("token"), col("m_true"),
          (cms_estimate(col("sk"), col("token").cast("string")) >= col("m_true") &&
            cms_estimate(col("sk"), col("token").cast("string")) <=
              col("m_true") + (col("n_total") * 1e-4).cast("long") + 1).as("cms_ok"))
        .orderBy("source", "token")
    },
      Some(s"SELECT source, token, count(*) AS m_true, TRUE AS cms_ok FROM $tokensFrom GROUP BY source, token ORDER BY source, token")),

    // Misra–Gries companion: per-source heavy hitters. The summary's
    // counters depend on Spark's partial-agg merge order, so the gate
    // asserts the ORDER-INVARIANT published guarantees per item:
    // lower estimate <= true <= estimate + error, error*(k+1) <= n
    // (exact integer form of error <= n/(k+1)), and completeness —
    // any token with true > error must be tracked
    Gate("freq_heavy_hitters", (s, dir) => {
      // truth and sketch sides both scan the tokenization - one pass
      val toks = TokenTable.tokens(s, dir).localCheckpoint(true)
      val k = 32
      val sk = toks.groupBy("source").agg(
        freq_agg(col("token").cast("string"), k).as("sk"),
        count(lit(1)).as("n_total"))
      val truth = toks.groupBy("source", "token").agg(count(lit(1)).as("m_true"))
      val est = freq_estimate(col("sk"), col("token").cast("string"))
      truth.join(broadcast(sk), Seq("source"))
        .select(col("source"), col("token"), col("m_true"),
          (est <= col("m_true")).as("under_ok"),
          (col("m_true") <= est + freq_error(col("sk"))).as("bound_ok"),
          (col("m_true") <= freq_error(col("sk")) || est > 0L).as("heavy_tracked_ok"),
          (freq_error(col("sk")) * (k + 1) <= col("n_total")).as("err_within_published"))
        .orderBy("source", "token")
    },
      Some(s"SELECT source, token, count(*) AS m_true, TRUE AS under_ok, TRUE AS bound_ok, " +
        s"TRUE AS heavy_tracked_ok, TRUE AS err_within_published FROM $tokensFrom " +
        "GROUP BY source, token ORDER BY source, token")),

    // t-digest companion: empirical CDF at estimated quantiles within 2%
    Gate("tdigest_quantiles", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val sk = li.groupBy("l_returnflag")
        .agg(tdigest_agg(col("l_extendedprice"), 100.0).as("sk"))
      val qs = sk.select(col("l_returnflag"),
        tdigest_quantile(col("sk"), lit(0.5)).as("q50"),
        tdigest_quantile(col("sk"), lit(0.95)).as("q95"))
      li.join(broadcast(qs), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (abs(avg(when(col("l_extendedprice") <= col("q50"), 1.0).otherwise(0.0)) - 0.5) <= 0.02)
            .as("q50_ok"),
          (abs(avg(when(col("l_extendedprice") <= col("q95"), 1.0).otherwise(0.0)) - 0.95) <= 0.02)
            .as("q95_ok"))
        .orderBy("l_returnflag")
    },
      Some("SELECT l_returnflag, count(*) AS n, TRUE AS q50_ok, TRUE AS q95_ok " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),

    // KLL companion: empirical CDF at estimated quantiles within 3%
    Gate("kll_quantiles", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      val sk = ev.groupBy("event_type").agg(kll_agg(col("value"), 200).as("sk"))
      val qs = sk.select(col("event_type"),
        kll_quantile(col("sk"), lit(0.25)).as("q25"),
        kll_quantile(col("sk"), lit(0.5)).as("q50"),
        kll_quantile(col("sk"), lit(0.9)).as("q90"),
        kll_n(col("sk")).as("n_sketch"))
      ev.join(broadcast(qs), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), first(col("n_sketch")).as("n_sketch"),
          (abs(avg(when(col("value") <= col("q25"), 1.0).otherwise(0.0)) - 0.25) <= 0.03).as("q25_ok"),
          (abs(avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0)) - 0.5) <= 0.03).as("q50_ok"),
          (abs(avg(when(col("value") <= col("q90"), 1.0).otherwise(0.0)) - 0.9) <= 0.03).as("q90_ok"))
        .select(col("event_type"), col("n"), (col("n_sketch") === col("n")).as("n_ok"),
          col("q25_ok"), col("q50_ok"), col("q90_ok"))
        .orderBy("event_type")
    },
      Some("SELECT event_type, count(*) AS n, TRUE AS n_ok, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q90_ok " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // ---- KMV set-operation sketches -------------------------------------
    // bottom-k distinct sketch per source over word trigrams: the kth
    // hash and the integer estimate are BYTE-EXACT oracle values (MD5
    // + 48-bit integer estimator); the accuracy bound makes the
    // estimator falsifiable (k=64 => ~12.7% standard error; the 40%
    // bound is ~3 sigma)
    Gate("kmv_distinct_sources", (s, dir) => {
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
    },
      Some(s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
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
        "abs(est - n_exact) * 5 <= n_exact * 2 AS est_ok FROM agg ORDER BY source")),

    // KMV set operations across source pairs: the union sketch's
    // bottom-k is a uniform sample of the union, so the shared-hash
    // count is an exact-integer Jaccard estimator (theta-sketch
    // intersection, Beyer et al. 2007). Exact |A∩B|/|A∪B| computed
    // distributed; only |sources| sketch blobs reach the driver.
    Gate("kmv_set_ops", (s, dir) => {
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
      val skSzF = alongside {
        grams.groupBy("source")
          .agg(kmv_agg(col("gram"), k).as("sk"), count(lit(1)).as("n"))
          .collect()
      }
      val a = grams.select(col("source").as("sa"), col("gram"))
      val b = grams.select(col("source").as("sb"), col("gram"))
      val inters = a.join(b, "gram").where(col("sa") < col("sb"))
        .groupBy("sa", "sb").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val skSz = skSzF()
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
    },
      Some(s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
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
        "FROM base ORDER BY src_a, src_b")),

    // KMV set DIFFERENCE (theta-sketch A-not-B): "how many distinct
    // grams does the fresh crawl add to the released corpus?" — the
    // incremental-ingest sizing question. The union sample's hashes
    // are membership-tested against each side's sketch (exact over
    // the sample, Kmv.onlyInFirst scaladoc), so the novelty fraction
    // and the absolute estimate are exact-integer pipelines the SQL
    // oracle replays byte-for-byte; the 250-milli bound is ~4 sigma
    // at k=64 over any true fraction.
    Gate("kmv_difference", (s, dir) => {
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
      def aggOf(g: DataFrame) = alongside {
        val r = g.agg(kmv_agg(col("gram"), k).as("sk"), count(lit(1)).as("n")).head()
        (Kmv.deserialize(r.getAs[Array[Byte]]("sk")), r.getAs[Long]("n"))
      }
      val (aF, bF) = (aggOf(corpusG), aggOf(crawlG))
      val (skCorpus, nCorpus) = aF()
      val (skCrawl, nCrawl) = bF()
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
    },
      Some(s"WITH t AS (SELECT doc_id, $W AS ws FROM documents), " +
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
        "FROM base")),

    // Bloom fill-ratio cardinality (Swamidass & Baldi 2007) on MERGED
    // filters: distributed/cross-source OR-merge preserves the bit
    // array exactly but the header `count` sums partial counts —
    // shared keys double-count, so the merged counter is NOT the
    // union cardinality. The estimate -(m/k)*ln(1 - X/m) reads it
    // back from the bits alone, order- and partition-independent.
    // Capacity scales with the corpus (40 grams/doc expectation) so
    // the union filter sits at a meaningful fill at every sf; the
    // 5%+50 bound is >>4 sigma for this estimator below saturation.
    Gate("bloom_union_estimate", (s, dir) => {
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
      val perSrcF = alongside {
        grams.groupBy("source").agg(
          bloom_agg(col("gram"), cap, 0.01).as("sk"), count(lit(1)).as("n_exact"))
          .collect()
          .map(r => (r.getString(0),
            BloomFilter.deserialize(r.getAs[Array[Byte]]("sk")), r.getAs[Long]("n_exact")))
          .sortBy(_._1)
      }
      val directRow = grams.select("gram").distinct()
        .agg(bloom_agg(col("gram"), cap, 0.01).as("d"), count(lit(1)).as("n_exact"))
        .collect()(0)
      val perSrc = perSrcF()
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
    },
      Some(s"WITH t AS (SELECT source, $W AS ws FROM documents), " +
        s"g AS (SELECT DISTINCT source, unnest($Sh) AS gram FROM t), " +
        "per AS (SELECT source AS scope, CAST(count(*) AS BIGINT) AS n_exact FROM g GROUP BY 1), " +
        "uni AS (SELECT '*union*' AS scope, CAST(count(DISTINCT gram) AS BIGINT) AS n_exact FROM g) " +
        "SELECT scope, n_exact, TRUE AS est_ok, TRUE AS merge_ok " +
        "FROM (SELECT * FROM per UNION ALL SELECT * FROM uni) ORDER BY scope")),

    // uniform per-source k-sample WITHOUT a shuffle-the-world sort:
    // bottom-k by the engine's md5 coin as a mergeable TopK aggregate
    // (partials carry k rows per partition; two-level rollup must
    // equal the direct sketch — exactness under re-aggregation as the
    // oracle-checked rollup_ok). The k smallest hash values of
    // distinct keys ARE a uniform sample without replacement, and the
    // coin is replayed by the oracle, so the sample is row-exact
    // across engines — the "eyeball a random slice per source" step
    // of a corpus release, at any scale.
    Gate("sample_uniform", (s, dir) => {
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
    },
      Some("SELECT source, CAST(rank AS INT) AS rank, doc_id, coin, TRUE AS rollup_ok FROM (" +
        "SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS coin, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 4 ORDER BY source, rank")),

    // exact top-k per group as a MERGEABLE aggregate: partials carry
    // k rows per partition (never the group), and the two-level
    // rollup (per-(source,lang) partials topk_merge_agg'd per source)
    // must equal the direct per-source sketch — exactness under
    // re-aggregation, pinned as the oracle-checked rollup_ok column.
    // Deterministic (score DESC, item ASC), so a row_number() window
    // replays it byte-exactly
    Gate("topk_per_source", (s, dir) => {
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
    },
      Some("SELECT source, CAST(rank AS INT) AS rank, n_chars, doc_id, TRUE AS rollup_ok FROM (" +
        "SELECT source, CAST(n_chars AS BIGINT) AS n_chars, CAST(doc_id AS VARCHAR) AS doc_id, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY CAST(n_chars AS BIGINT) DESC, CAST(doc_id AS VARCHAR)) AS rank " +
        "FROM documents) WHERE rank <= 3 ORDER BY source, rank")),

    // snapshot/time-travel sketch table: v1 = sketches of half the
    // corpus, v2 = full corpus; reading v1 after v2 exists must see the
    // old estimates (immutable snapshots), v2 must equal a direct build
    Gate("sketch_table_snapshots", (s, dir) => {
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
      val cHalfF = alongside { half.count() }
      val cAllF = alongside { all.count() }
      io.commit(build(half), Map("docs" -> cHalfF()))
      io.commit(build(all), Map("docs" -> cAllF()))
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
    },
      Some("SELECT source, TRUE AS versions_ok, TRUE AS snapshot_isolated, TRUE AS latest_matches_direct " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // kill/resume: build crashes (injected) after 1 checkpointed batch,
    // resumes from the lineage journal, and the folded result must be
    // bit-equivalent to a single-shot build (north rule resumability)
    Gate("resumable_build", (s, dir) => {
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
    },
      Some("SELECT source, TRUE AS crashed_then_resumed, TRUE AS skipped_done_batches, " +
        "TRUE AS bloom_ok, TRUE AS hll_ok, TRUE AS n_ok " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source")),

    // sketch rollup: fold per-source sketches into a global sketch with
    // the merge aggregates; estimates must match a direct global build
    Gate("sketch_rollup", (s, dir) => {
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
    },
      Some("SELECT TRUE AS bloom_ok, TRUE AS hll_ok, TRUE AS cms_ok, TRUE AS td_ok, " +
        "TRUE AS kll_ok, TRUE AS freq_ok"))
  )
}
