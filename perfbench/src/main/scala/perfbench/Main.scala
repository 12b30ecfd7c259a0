package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/**
 * One run of one workload:
 *
 *   --workload build_tokens|catalog_bulk|wire_mixed --seed N --seconds S --trace 0|1 --work DIR
 *
 * Every run drives all three legs (build, bulk catalog, wire), so every
 * end-to-end metric is measured on every workload. The workload names the
 * primary leg: it runs at full size for S seconds and owns `fp_rate` and
 * `bytes_per_key`. The other two legs run at a quarter of the input size
 * for S/2 seconds each (at least three build rounds, one bulk round).
 * Set-up is done three times and its median reported. The last stdout
 * line is the result JSON. With --trace 1 a traced pass runs between two
 * untraced ones and the per-layer metrics are printed instead.
 */
object Main {

  val Workloads: Seq[String] = Seq("build_tokens", "catalog_bulk", "wire_mixed")

  /** Full input sizes; the seed and the workload alone decide the inputs. */
  val BuildTokens = 3000000L
  val BulkCapacity = 2000000L
  val BulkProbes = 1000000L
  /** input size and time share of a leg that is not the workload's own */
  val CompanionSize = 0.25
  val CompanionTime = 0.5

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Either[String, Args] = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    for {
      w <- m.get("workload").filter(Workloads.contains).toRight(s"--workload must be one of ${Workloads.mkString(", ")}")
      seed <- m.get("seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      secs <- m.get("seconds").flatMap(_.toDoubleOption).filter(_ > 0).toRight("--seconds must be positive")
      tr <- m.get("trace").filter(Set("0", "1")).toRight("--trace must be 0 or 1")
    } yield Args(w, seed, secs, tr == "1", Paths.get(m.getOrElse("work", "perfbench/target/work")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv).fold(e => { System.err.println(e); sys.exit(2) }, identity)
    val threads = Runtime.getRuntime.availableProcessors()
    Leg.deleteTree(a.work)
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(a, spark, threads) finally spark.stop()
    Leg.deleteTree(a.work)
    sys.exit(code)
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  private def run(a: Args, spark: SparkSession, threads: Int): Int = {
    val trace = new Trace(false)
    val checker = new Checker
    def legs(dir: Path): (BuildLeg, BulkLeg, WireLeg) = {
      val ctx = Ctx(spark, trace, checker, a.seed, threads, dir)
      def size(w: String, n: Long): Long = if (a.workload == w) n else (n * CompanionSize).toLong
      val b = new BuildLeg(ctx, size("build_tokens", BuildTokens)); log("set up build")
      val k = new BulkLeg(ctx, size("catalog_bulk", BulkCapacity), size("catalog_bulk", BulkProbes),
        (BulkCapacity * CompanionSize).toLong); log("set up bulk")
      val w = new WireLeg(ctx); log("set up wire")
      (b, k, w)
    }
    // set-up three times, keep the last
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var built: (BuildLeg, BulkLeg, WireLeg) = null
    for (i <- 0 until 3) {
      val dir = a.work.resolve(s"setup$i")
      setups += Leg.timed { built = legs(dir) }
      if (i < 2) { built._2.close(); built._3.close(); built._2.catalog.awaitDeletes(); Leg.deleteTree(dir) }
    }
    val (build, bulk, wire) = built
    log(s"set-up ${setups.map(x => f"$x%.2f").mkString(" ")} s; inputs: tokens=${build.table.digest} bulk=${bulk.keys.digest} wire=${Gen.wireDigest(a.seed, 1000)}")
    val all: Seq[(String, Leg)] = Seq("build_tokens" -> build, "catalog_bulk" -> bulk, "wire_mixed" -> wire)
    val primary = all.find(_._1 == a.workload).get._2
    def share(l: Leg): Double = a.seconds * (if (l eq primary) 1.0 else CompanionTime)

    // each leg is warmed right before it is timed, so its first timed
    // round does not pay for the other legs' warm-up or for the GC
    all.foreach { case (n, l) => System.gc(); l.warm(); l.measure(0, share(l)); log(s"measured $n") }
    val heapMb = retainedHeapMb()

    val probe = new SparkProbe(trace)
    if (a.trace) {
      spark.sparkContext.addSparkListener(probe)
      trace.enabled = true
      all.foreach { case (n, l) => System.gc(); l.measure(1, share(l)); log(s"traced $n") }
      // listener events arrive asynchronously: count them all before stopping
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      trace.enabled = false
      // untraced again, so warm-up does not bias the traced/untraced gap
      all.foreach { case (n, l) => System.gc(); l.measure(0, share(l)); log(s"measured $n") }
    }

    all.foreach { case (n, l) => l.check(l eq primary); log(s"checked $n") }
    val (fp, absent) = primary.falsePositives
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace)
        Seq(("setup_s", Stats.median(setups.toSeq), "s")) ++ all.flatMap(_._2.endToEnd) ++ Seq(
          ("fp_rate", fp.toDouble / absent, "ratio"),
          ("bytes_per_key", primary.bytesPerKey, "bytes"),
          ("retained_heap_mb", heapMb, "MiB"))
      else {
        val keys = primary.sampleKeys(200000)
        val tokens = build.sampleKeys(200000)
        sparkMetrics(trace, probe) ++ Micro.hash(keys) ++
          Micro.sketch(tokens, bulk.capacity, bulk.filter) ++ bulk.perLayer() ++ wire.perLayer() ++ Seq(
            ("trace_overhead_share", primary.throughput(0) / primary.throughput(1) - 1, "ratio"),
            ("loadavg_1m", loadavg(), "load"),
            ("failed_op_share", checker.failed.get.toDouble / math.max(1L, checker.attempted.get), "ratio"))
      }
    if (a.trace) trace.write(a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.csv"))
    all.foreach(_._2.close())

    Metrics.mismatches(metrics.map(m => (m._1, m._3)), a.trace).foreach(checker.fail)
    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    bad.foreach(m => checker.fail(s"metric ${m._1} is ${m._2}"))
    checker.failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(resultJson(checker, metrics.filterNot(bad.contains)))
    if (checker.correct) 0 else 1
  }

  private def sparkMetrics(t: Trace, p: SparkProbe): Seq[(String, Double, String)] = {
    def c(n: String, unit: String) = (n, t.counter(n), unit)
    Seq(("spark.jobs", p.jobs.toDouble, "count"), ("spark.stages", p.stages.toDouble, "count"),
      c("spark.tasks", "count"), c("spark.executor_run_s", "s"), c("spark.executor_cpu_s", "s"),
      c("spark.gc_s", "s"), c("spark.driver_gap_s", "s"), c("spark.scan_bytes", "bytes"),
      c("spark.scan_records", "count"), c("spark.shuffle_write_bytes", "bytes"),
      c("spark.shuffle_read_bytes", "bytes"), c("spark.spill_bytes", "bytes"),
      ("spark.peak_exec_mem_bytes", p.peakExecMem.toDouble, "bytes"), ("spark.task_skew", p.maxSkew, "ratio"),
      c("agg.partial_stage_s", "s"), c("agg.final_stage_s", "s"),
      ("agg.buffer_bytes_per_record",
        t.counter("agg.partial_out_bytes") / math.max(1.0, t.counter("agg.partial_in_records")), "bytes"))
  }

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  def resultJson(ck: Checker, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${ck.correct}, "attempted": ${math.max(1L, ck.attempted.get)}, "failed": ${ck.failed.get}, "metrics": {$ms}}"""
  }
}
