package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Generate

/**
 * Proof of the CLUSTER install path: a fresh JVM whose session is
 * built with the library jar on the classpath gets every `graft_*` SQL
 * function WITHOUT any driver-side `GraftFunctions.register()` call —
 * the way a Thrift/Connect user that never runs Scala code would
 * consume the library — and its optimizer fuses `explode` into the
 * sketch aggregates ([[graft.agg.SketchOverExplode]]).
 *
 * With no argument the session is built with no configuration at all
 * (Spark's ServiceLoader installs `GraftExtensions`); with `config` it
 * also sets `spark.sql.extensions=graft.agg.GraftExtensions`, so both
 * install paths are active at once. Run by `ExtensionsInstallSpec` as a
 * forked process (extensions only apply at session construction, so an
 * in-suite shared session can't test this path).
 */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit =
    // hard-exit on ANY outcome: a failed assert must not leave
    // non-daemon Spark threads holding the forked JVM open (the spec
    // reads this process's output to EOF)
    try {
      val builder = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
      if (args.headOption.contains("config"))
        builder.config("spark.sql.extensions", "graft.agg.GraftExtensions")
      val spark = builder.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val row = spark.sql(
        "SELECT graft_bloom_contains(graft_bloom_agg(k, 20000, 0.001), 'k3') AS hit, " +
          "graft_bloom_contains(graft_bloom_agg(k, 20000, 0.001), 'absent') AS miss, " +
          "graft_hll_estimate(graft_hll_agg(k, 12)) AS nd, " +
          "graft_lbf_count(graft_lbf_agg(k, 20000, 0.001), 'k1') AS m1 " +
          "FROM VALUES ('k1'), ('k1'), ('k2'), ('k3') AS t(k)").head()
      assert(row.getBoolean(0), "bloom membership via extensions")
      assert(!row.getBoolean(1), "bloom absent key via extensions")
      assert(row.getLong(2) == 3L, s"hll distinct via extensions, got ${row.getLong(2)}")
      assert(row.getInt(3) >= 1 && row.getInt(3) <= 2, s"lbf count via extensions, got ${row.getInt(3)}")
      val fused = spark.sql(
        "SELECT s, graft_hll_estimate(graft_hll_agg(tok, 12)) AS nd, count(*) AS n " +
          "FROM VALUES ('a', array(1, 2, 2)), ('b', array(-3)), ('b', array()) AS t(s, toks) " +
          "LATERAL VIEW explode(toks) x AS tok GROUP BY s ORDER BY s")
      val plan = fused.queryExecution.optimizedPlan
      assert(!plan.exists(_.isInstanceOf[Generate]), s"explode not fused into the sketch aggregate:\n$plan")
      val got = fused.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("a", 2L, 3L), ("b", 1L, 1L)), s"fused answers, got $got")
      println("EXTENSIONS_OK")
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"EXTENSIONS_FAIL: $e")
        sys.exit(1)
    }
}
