package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.GraftFunctions._
import graft.pipeline.TokenTable

/**
 * Driver contract (see SURVEY.md §7): every implemented operator gets a
 * `queries` entry, and an `oracleSql` entry (DuckDB, same parquet
 * tables) wherever the semantics are SQL-expressible. Sketch queries
 * expose their probabilistic guarantees as BOOLEAN columns (no false
 * negatives, fp within bound, estimate within published error) computed
 * on the Spark side, so the DuckDB oracle can assert them exactly.
 */
object SparkEntry {

  /** Flagship: sketch-build over the token table at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val toks = TokenTable.tokens(spark, dir)
    toks.groupBy(col("source")).agg(
      bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("token_bloom"),
      sbf_agg(col("doc_id"), 10000L, 1e-4, 4, 0.9).as("doc_sbf"))
      .select(col("source"),
        bloom_estimate(col("token_bloom")).as("distinct_tokens_est"),
        sbf_size(col("doc_sbf")).as("docs_est"),
        sbf_num_layers(col("doc_sbf")).as("layers"))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sketchQueries ++ graft.pipeline.PipelineQueries.queries

  private def sketchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bloom `bulk`+`check`: zero false negatives over every inserted
    // (source, token) pair — `csrc/libbloom/bloom.c:105-150` semantics
    "bloom_member_tokens" -> ((s, dir) => {
      val toks = TokenTable.tokens(s, dir)
      val sketches = toks.groupBy("source")
        .agg(bloom_agg(col("token").cast("string"), 100000L, 1e-4).as("sketch"))
      toks.select("source", "token").distinct()
        .join(broadcast(sketches), Seq("source"))
        .select(col("source"), col("token"),
          bloom_contains(col("sketch"), col("token").cast("string")).as("present"))
        .orderBy("source", "token")
    }),

    // bloom FP bound at design load: 20k inserts into a 20k-capacity
    // p=0.01 filter, probed with 20k never-inserted keys
    // (mirrors tests/libbloom/test_bloom.c:430-478)
    "bloom_fp_bound" -> ((s, dir) => {
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
    }),

    // SBF per-source over doc ids: membership + size within count error
    "sbf_member_docs" -> ((s, dir) => {
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
    }),

    // LBF multiplicity: merged count within [1, inserted multiplicity].
    // The layered filter is a SMALL-COUNT structure — one layer per
    // repeat of a key (`src/lbf.rs`), cost and storage O(max count) —
    // so lbf_agg itself caps layer growth (maxCount, default 5; the
    // Rust server's own tests count to ~3). The build here feeds RAW
    // corpus multiplicities (~10^3 on this small-vocab corpus) and the
    // operator enforces its regime — without the cap this was a 303 s
    // build (thousands of layers, megabyte blobs), measured in round 1.
    "lbf_multiplicity" -> ((s, dir) => {
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
    }),

    // scripted wire-protocol lifecycle over the sketch catalog —
    // exact reference response strings (`handler_constants.c:6-64`)
    "op_catalog_lifecycle" -> ((s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        java.nio.file.Files.createTempDirectory("opcat").toString)
      val keys = (0 until 1000).map(i => s"k$i").toDF("k")
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create foo", cat.create("foo", 20000, 0.001)))
      steps += ((2, "create foo again", cat.create("foo", 20000, 0.001)))
      steps += ((3, "create capacity<=10000", cat.create("badcap", 500)))
      steps += ((4, "create prob>=0.1", cat.create("badp", 20000, 0.5)))
      steps += ((5, "create bad name", cat.create("bad name")))
      steps += ((6, "bulk 1000 keys", if (cat.setKeys("foo", keys).isRight) "Done" else "Error"))
      val chk = cat.checkKeys("foo", keys).toOption.get
      steps += ((7, "check all inserted", if (chk.filter(!col("present")).count() == 0) "Yes" else "No"))
      steps += ((8, "check absent key",
        if (cat.checkKeys("foo", Seq("absent").toDF("k")).toOption.get.head().getBoolean(1)) "Yes" else "No"))
      val info = cat.info("foo").toOption.get
      steps += ((9, "info size", info.size.toString))
      steps += ((10, "info sets/set_hits/set_misses",
        s"${info.sets}/${info.set_hits}/${info.set_misses}"))
      steps += ((11, "info checks/check_hits/check_misses",
        s"${info.checks}/${info.check_hits}/${info.check_misses}"))
      steps += ((12, "clear before close", cat.clear("foo")))
      steps += ((13, "close", cat.close("foo")))
      steps += ((14, "clear after close", cat.clear("foo")))
      steps += ((15, "create after clear reloads", cat.create("foo", 20000, 0.001)))
      steps += ((16, "old keys fault back in",
        if (cat.checkKeys("foo", Seq("k0").toDF("k")).toOption.get.head().getBoolean(1)) "Yes" else "No"))
      steps += ((17, "drop", cat.drop("foo")))
      steps += ((18, "drop again", cat.drop("foo")))
      steps += ((19, "info of dropped",
        cat.info("foo").left.getOrElse("?")))
      steps += ((20, "list is empty", cat.list().size.toString))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    }),

    // the batch multi-FILTER probe surface: (name, key) pairs routed
    // to their filters in one scan against a broadcast map of the
    // referenced sketches; unknown filters answer none
    "op_multi_filter_check" -> ((s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        java.nio.file.Files.createTempDirectory("opmulti").toString)
      cat.create("fa"); cat.create("fb")
      cat.setKeys("fa", Seq("a1", "a2", "shared").toDF("k"))
      cat.setKeys("fb", Seq("b1", "shared").toDF("k"))
      val pairs = Seq(
        ("fa", "a1"), ("fa", "b1"), ("fa", "shared"),
        ("fb", "a1"), ("fb", "b1"), ("fb", "shared"),
        ("ghost", "x")).toDF("name", "key")
      cat.checkKeysMulti(pairs)
        .select(col("name"), col("key"),
          coalesce(col("present").cast("string"), lit("none")).as("present"))
        .orderBy("name", "key")
    }),

    // outbound migration as a scripted trace: a filter built here is
    // exported in each reference daemon's OWN on-disk layout and read
    // back through the restore path (C: config.ini + data.NNN.mmap,
    // `config.c:482-507`; Rust: <name>.ini + N.bmp, `config.rs:135-276`)
    "op_export_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        java.nio.file.Files.createTempDirectory("opexp").toString)
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create exf", cat.create("exf")))
      steps += ((2, "bulk 100 keys",
        if (cat.setKeys("exf", (0 until 100).map(i => s"xk$i").toDF("k")).isRight) "Done" else "Error"))
      val dest = java.nio.file.Files.createTempDirectory("opexpdst")
      val out = cat.exportBloomd("exf", dest)
      steps += ((3, "export writes the C layout",
        out.toOption.map(_.getFileName.toString).getOrElse(out.left.getOrElse("?"))))
      val (ini, restored) = graft.catalog.SketchCatalog.restoreFromBloomd(out.toOption.get)
      steps += ((4, "restored membership, all 100 keys",
        if ((0 until 100).forall(i =>
          restored.contains(s"xk$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))) "Yes" else "No"))
      steps += ((5, "restored absent key",
        if (restored.contains("nope".getBytes(java.nio.charset.StandardCharsets.UTF_8))) "Yes" else "No"))
      steps += ((6, "ini initial_capacity", ini.initialCapacity.toString))
      steps += ((7, "ini size", ini.size.toString))
      val rustRoot = java.nio.file.Files.createTempDirectory("opexprust")
      val rs = new graft.catalog.RustBloomServer(rustRoot.toString)
      steps += ((8, "rust create", rs.interpret("create rex")))
      steps += ((9, "rust set twice (count)", {
        rs.interpret("set rex kk"); rs.interpret("set rex kk")
      }))
      steps += ((10, "rust export", rs.exportRustDir("rex", rustRoot.resolve("out"))))
      val rs2 = new graft.catalog.RustBloomServer(
        java.nio.file.Files.createTempDirectory("opexprust2").toString)
      steps += ((11, "rust import on a second server",
        rs2.importRustDir(rustRoot.resolve("out").resolve("filter.rex"))))
      steps += ((12, "imported multiplicity", rs2.interpret("check rex kk")))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    }),

    // background-maintenance lifecycle as a scripted trace: dirty-flush
    // sweep, cold-list window semantics (read clears hot flags,
    // `filter_manager.c:731-794`), cold page-out sweep, fault-in on
    // next use (`background.c:100-180`)
    "op_background_lifecycle" -> ((s, dir) => {
      import s.implicits._
      val cat = new graft.catalog.SketchCatalog(s,
        java.nio.file.Files.createTempDirectory("opbg").toString)
      def cold(): String = { val c = cat.listCold(); if (c.isEmpty) "-" else c.mkString(",") }
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      steps += ((1, "create f1", cat.create("f1")))
      steps += ((2, "create f2", cat.create("f2")))
      steps += ((3, "set f1 k1", if (cat.setKeyLocal("f1", "k1") == Right(true)) "Yes" else "No"))
      steps += ((4, "flush sweep persists dirty only",
        s"flushed=${cat.backgroundSweep(flush = true, cold = false)._1}"))
      steps += ((5, "cold list while hot", cold()))
      steps += ((6, "cold list after idle window", cold()))
      steps += ((7, "check f1 k1 touches f1",
        if (cat.checkKeyLocal("f1", "k1") == Right(true)) "Yes" else "No"))
      steps += ((8, "cold sweep pages out untouched",
        s"paged_out=${cat.backgroundSweep(flush = false, cold = true)._2}"))
      steps += ((9, "info f2 proxied",
        cat.info("f2").toOption.get.in_memory.toString))
      steps += ((10, "check f2 k1 faults back in",
        if (cat.checkKeyLocal("f2", "k1") == Right(true)) "Yes" else "No"))
      val i2 = cat.info("f2").toOption.get
      steps += ((11, "info f2 in_memory/page_ins/page_outs",
        s"${i2.in_memory}/${i2.page_ins}/${i2.page_outs}"))
      steps.toSeq.toDF("step", "op", "result").orderBy("step")
    }),

    // per-row invariant from the north rule: n_tok == size(tokens),
    // token ids reproduce the reference derivation exactly. The token
    // array is emitted as its canonical CSV rendering (scalar column)
    // so the gate harness can sort/hash rows — string equality of the
    // rendering is array equality (round-1 gate erred on the raw
    // array<int> column: pandas can't factorize ndarray cells).
    "token_table_invariant" -> ((s, dir) => {
      TokenTable.load(s, dir)
        .select(col("doc_id"),
          array_join(col("tokens").cast("array<string>"), ",").as("tokens_csv"),
          col("n_tok"), col("source"),
          (col("n_tok") === size(col("tokens"))).as("n_tok_ok"))
        .orderBy(col("doc_id").cast("long"))
    }),

    // the SQL surface end-to-end: the same engine driven entirely by
    // SQL text through the graft_* functions that GraftExtensions
    // installs in every session
    "q_sql_surface" -> ((s, dir) => {
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
    }),

    // HLL companion: distinct docs per source within published error
    // (linear-counting regime at this scale -> tolerance max(2, 3*se*n))
    "hll_distinct_docs" -> ((s, dir) => {
      val docs = TokenTable.load(s, dir).select("source", "doc_id")
      val sk = docs.groupBy("source").agg(hll_agg(col("doc_id"), 14).as("sk"))
      val truth = docs.groupBy("source").agg(countDistinct("doc_id").as("n_exact"))
      truth.join(sk, Seq("source"))
        .select(col("source"), col("n_exact"),
          (abs(hll_estimate(col("sk")) - col("n_exact")) <=
            greatest(lit(2.0), col("n_exact") * (3 * 1.04 / math.sqrt(1 << 14)))).as("hll_ok"))
        .orderBy("source")
    }),

    // CMS companion: per-(source,token) frequency within eps-delta bound
    "cms_freq_bound" -> ((s, dir) => {
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
    }),

    // Misra–Gries companion: per-source heavy hitters. The summary's
    // counters depend on Spark's partial-agg merge order, so the gate
    // asserts the ORDER-INVARIANT published guarantees per item:
    // lower estimate <= true <= estimate + error, error*(k+1) <= n
    // (exact integer form of error <= n/(k+1)), and completeness —
    // any token with true > error must be tracked
    "freq_heavy_hitters" -> ((s, dir) => {
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
    }),

    // t-digest companion: empirical CDF at estimated quantiles within 2%
    "tdigest_quantiles" -> ((s, dir) => {
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
    }),

    // KLL companion: empirical CDF at estimated quantiles within 3%
    "kll_quantiles" -> ((s, dir) => {
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
    }),

    // classic relational coverage (SURVEY.md §2.5): agg over lineitem
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // join + groupBy: orders per customer segment
    "q_join_segments" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    }),

    // window function: per-supplier latest shipment line
    "q_window_latest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").desc, col("l_orderkey").desc, col("l_linenumber").desc)
      li.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_suppkey")
    })
  )

  // ---------------------------------------------------------------- oracles

  private val V = TokenTable.vocabDuckArray
  private val tokensFrom =
    s"(SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, list_position($V, w) - 1 AS token " +
      s"FROM (SELECT doc_id, source, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents))"

  def oracleSql: Map[String, String] =
    sketchOracleSql ++ graft.pipeline.PipelineQueries.oracleSql

  private def sketchOracleSql: Map[String, String] = Map(
    "bloom_member_tokens" ->
      s"SELECT source, token, TRUE AS present FROM (SELECT DISTINCT source, token FROM $tokensFrom) ORDER BY source, token",
    "bloom_fp_bound" ->
      "SELECT TRUE AS fp_ok, TRUE AS zero_false_neg",
    "sbf_member_docs" ->
      "SELECT source, TRUE AS all_present, TRUE AS size_ok FROM (SELECT DISTINCT source FROM documents) ORDER BY source",
    "lbf_multiplicity" ->
      s"SELECT source, token, count(*) AS m_true, TRUE AS count_ok FROM $tokensFrom GROUP BY source, token ORDER BY source, token",
    "token_table_invariant" ->
      (s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        s"array_to_string(list_transform(regexp_split_to_array(text, '\\s+'), w -> CAST(list_position($V, w) - 1 AS INT)), ',') AS tokens_csv, " +
        s"CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_tok, source, TRUE AS n_tok_ok " +
        "FROM documents ORDER BY doc_id"),
    "op_catalog_lifecycle" ->
      ("SELECT * FROM (VALUES " +
        "(1, 'create foo', 'Done'), " +
        "(2, 'create foo again', 'Exists'), " +
        "(3, 'create capacity<=10000', 'Client Error: Bad arguments'), " +
        "(4, 'create prob>=0.1', 'Client Error: Bad arguments'), " +
        "(5, 'create bad name', 'Client Error: Bad filter name'), " +
        "(6, 'bulk 1000 keys', 'Done'), " +
        "(7, 'check all inserted', 'Yes'), " +
        "(8, 'check absent key', 'No'), " +
        "(9, 'info size', '1000'), " +
        "(10, 'info sets/set_hits/set_misses', '1000/1000/0'), " +
        "(11, 'info checks/check_hits/check_misses', '1001/1000/1'), " +
        "(12, 'clear before close', 'Filter is not proxied. Close it first.'), " +
        "(13, 'close', 'Done'), " +
        "(14, 'clear after close', 'Done'), " +
        "(15, 'create after clear reloads', 'Done'), " +
        "(16, 'old keys fault back in', 'Yes'), " +
        "(17, 'drop', 'Done'), " +
        "(18, 'drop again', 'Filter does not exist'), " +
        "(19, 'info of dropped', 'Filter does not exist'), " +
        "(20, 'list is empty', '0')" +
        ") AS t(step, op, result) ORDER BY step"),
    "q_sql_surface" ->
      (s"SELECT source, count(*) AS n, TRUE AS bloom_ok, TRUE AS sbf_ok, TRUE AS lbf_ok, " +
        "TRUE AS hll_ok, TRUE AS cms_ok, TRUE AS kll_ok, TRUE AS freq_ok, TRUE AS td_ok, TRUE AS topk_ok, TRUE AS kmv_ok, TRUE AS merged_hll_ok, TRUE AS merged_kmv_ok, " +
        "TRUE AS vec_ok, TRUE AS quant_ok, TRUE AS lsh_ok, TRUE AS minhash_ok, TRUE AS simhash_ok, " +
        "TRUE AS unicode_ok " +
        s"FROM $tokensFrom GROUP BY source ORDER BY source"),
    "op_multi_filter_check" ->
      ("SELECT * FROM (VALUES " +
        "('fa', 'a1', 'true'), ('fa', 'b1', 'false'), ('fa', 'shared', 'true'), " +
        "('fb', 'a1', 'false'), ('fb', 'b1', 'true'), ('fb', 'shared', 'true'), " +
        "('ghost', 'x', 'none')" +
        ") AS t(name, key, present) ORDER BY name, key"),
    "op_export_roundtrip" ->
      ("SELECT * FROM (VALUES " +
        "(1, 'create exf', 'Done'), " +
        "(2, 'bulk 100 keys', 'Done'), " +
        "(3, 'export writes the C layout', 'bloomd.exf'), " +
        "(4, 'restored membership, all 100 keys', 'Yes'), " +
        "(5, 'restored absent key', 'No'), " +
        "(6, 'ini initial_capacity', '100000'), " +
        "(7, 'ini size', '100'), " +
        "(8, 'rust create', 'Done'), " +
        "(9, 'rust set twice (count)', '2'), " +
        "(10, 'rust export', 'Done'), " +
        "(11, 'rust import on a second server', 'Done'), " +
        "(12, 'imported multiplicity', '2')" +
        ") AS t(step, op, result) ORDER BY step"),
    "op_background_lifecycle" ->
      ("SELECT * FROM (VALUES " +
        "(1, 'create f1', 'Done'), " +
        "(2, 'create f2', 'Done'), " +
        "(3, 'set f1 k1', 'Yes'), " +
        "(4, 'flush sweep persists dirty only', 'flushed=1'), " +
        "(5, 'cold list while hot', '-'), " +
        "(6, 'cold list after idle window', 'f1,f2'), " +
        "(7, 'check f1 k1 touches f1', 'Yes'), " +
        "(8, 'cold sweep pages out untouched', 'paged_out=1'), " +
        "(9, 'info f2 proxied', '0'), " +
        "(10, 'check f2 k1 faults back in', 'No'), " +
        "(11, 'info f2 in_memory/page_ins/page_outs', '1/1/1')" +
        ") AS t(step, op, result) ORDER BY step"),

    "hll_distinct_docs" ->
      ("SELECT source, count(DISTINCT doc_id) AS n_exact, TRUE AS hll_ok " +
        "FROM documents GROUP BY source ORDER BY source"),
    "cms_freq_bound" ->
      s"SELECT source, token, count(*) AS m_true, TRUE AS cms_ok FROM $tokensFrom GROUP BY source, token ORDER BY source, token",
    "freq_heavy_hitters" ->
      (s"SELECT source, token, count(*) AS m_true, TRUE AS under_ok, TRUE AS bound_ok, " +
        s"TRUE AS heavy_tracked_ok, TRUE AS err_within_published FROM $tokensFrom " +
        "GROUP BY source, token ORDER BY source, token"),
    "tdigest_quantiles" ->
      ("SELECT l_returnflag, count(*) AS n, TRUE AS q50_ok, TRUE AS q95_ok " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "kll_quantiles" ->
      ("SELECT event_type, count(*) AS n, TRUE AS n_ok, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q90_ok " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_join_segments" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"),
    "q_window_latest" ->
      ("SELECT l_suppkey, l_orderkey, l_linenumber FROM (" +
        "SELECT l_suppkey, l_orderkey, l_linenumber, row_number() OVER (" +
        "PARTITION BY l_suppkey ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn " +
        "FROM lineitem) WHERE rn = 1 ORDER BY l_suppkey")
  )
}
