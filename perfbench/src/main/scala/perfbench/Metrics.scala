package perfbench

/**
 * Every metric the benchmark prints, with its unit and direction. A run
 * prints exactly `endToEnd` untraced and exactly `perLayer` traced;
 * BENCHMARK.json lists the same names (MetricsSpec keeps them in step).
 */
object Metrics {
  final case class M(name: String, unit: String, higherIsBetter: Boolean)
  private def hi(n: String, u: String) = M(n, u, higherIsBetter = true)
  private def lo(n: String, u: String) = M(n, u, higherIsBetter = false)

  val endToEnd: Seq[M] = Seq(
    lo("setup_s", "s"),
    hi("build_tokens_per_s", "1/s"),
    hi("bulk_set_keys_per_s", "1/s"), hi("bulk_check_keys_per_s", "1/s"),
    hi("wire_ops_per_s", "1/s"),
    lo("wire_check_p50_us", "us"), lo("wire_set_p50_us", "us"),
    lo("fp_rate", "ratio"), lo("bytes_per_key", "bytes"), lo("retained_heap_mb", "MiB"))

  val perLayer: Seq[M] = Seq(
    lo("spark.jobs", "count"), lo("spark.stages", "count"), lo("spark.tasks", "count"),
    lo("spark.executor_run_s", "s"), lo("spark.executor_cpu_s", "s"), lo("spark.gc_s", "s"),
    lo("spark.driver_gap_s", "s"), lo("spark.scan_bytes", "bytes"), lo("spark.scan_records", "count"),
    lo("spark.shuffle_write_bytes", "bytes"), lo("spark.shuffle_read_bytes", "bytes"),
    lo("spark.spill_bytes", "bytes"), lo("spark.peak_exec_mem_bytes", "bytes"), lo("spark.task_skew", "ratio"),
    lo("agg.partial_stage_s", "s"), lo("agg.final_stage_s", "s"), lo("agg.buffer_bytes_per_record", "bytes"),
    lo("hash.bloom_ns_per_key", "ns"), lo("hash.murmur_ns_per_key", "ns"), lo("hash.spooky_ns_per_key", "ns"),
    lo("sketch.bloom_add_ns", "ns"), lo("sketch.bloom_contains_ns", "ns"), lo("sketch.hll_update_ns", "ns"),
    lo("sketch.sbf_add_ns", "ns"), lo("sketch.sbf_contains_hit_ns", "ns"), lo("sketch.sbf_contains_miss_ns", "ns"),
    lo("sketch.sbf_serialize_ms", "ms"), lo("sketch.sbf_deserialize_ms", "ms"), lo("sketch.sbf_merge_ms", "ms"),
    lo("sketch.sbf_layers", "count"), lo("sketch.fill_ratio", "ratio"),
    lo("catalog.set_keys_s", "s"), lo("catalog.check_keys_s", "s"), lo("catalog.consume_s", "s"),
    lo("catalog.flush_ms", "ms"), lo("catalog.close_ms", "ms"), lo("catalog.fault_in_ms", "ms"),
    lo("catalog.persisted_bytes", "bytes"),
    lo("wire.interpret_p50_us", "us"), lo("wire.interpret_p99_us", "us"),
    hi("wire.interpret_ops_per_s_1t", "1/s"), hi("wire.interpret_ops_per_s_nt", "1/s"),
    lo("wire.transport_us", "us"), lo("wire.info_us", "us"), lo("wire.flush_ms", "ms"),
    lo("wire.bytes_per_op", "bytes"), hi("wire.check_samples", "count"), hi("wire.set_samples", "count"),
    lo("wire_check_p99_us", "us"), lo("wire_set_p99_us", "us"),
    lo("trace_overhead_share", "ratio"), lo("loadavg_1m", "load"), lo("failed_op_share", "ratio"))

  /** Differences between what a run printed and what its mode must print. */
  def mismatches(printed: Seq[(String, String)], traced: Boolean): Seq[String] = {
    val want = (if (traced) perLayer else endToEnd).map(m => m.name -> m.unit)
    val missing = want.filterNot(printed.contains).map { case (n, u) => s"metric $n ($u) not printed" }
    val extra = printed.filterNot(want.contains).map { case (n, u) => s"metric $n ($u) not declared" }
    missing ++ extra
  }
}
