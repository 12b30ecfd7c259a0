package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench materializer must keep its chunky many-file layout at
  * EVERY scale factor. At sf10 the token budget is reached with only
  * ~6 replicas, and the original `range(0, reps, 1, 128)` driver
  * collapsed to `reps` non-empty partitions: 6 ~370 MB files whose
  * ~18 row groups starved the 8-core scaling leg (recorded eff 0.748
  * in artifacts/r05/BENCH_sf10_r05_local.json vs 0.87 with a chunky layout). The
  * (replica x slice) grid decouples write parallelism from the
  * replica count; this spec pins both the layout and the exact
  * row-count contract in the low-replica regime. */
class BenchMaterializeSpec extends AnyFunSuite with SharedSpark {

  test("low-replica materialize still writes a many-file balanced layout") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val perRep = graft.pipeline.TokenTable.load(spark, sfDir)
      .agg(sum(col("n_tok")).cast("long")).head().getLong(0)
    // budget = 2 replicas: the regime that collapsed to reps files
    val (path, rows) = Bench.materialize(spark, sfDir, 2L * perRep)
    try {
      assert(rows == 2L * perRep, "amplified row count must be exact")
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator()
      var n = 0
      while (files.hasNext) {
        if (files.next().getFileName.toString.endsWith(".parquet")) n += 1
      }
      assert(n >= 64, s"materialized layout collapsed to $n files")
      val table = spark.read.parquet(path)
      assert(table.count() == rows)
      // every replica id must appear: the grid covers (rep, doc) exactly once
      val repSuffixes = table
        .select(element_at(split(col("token"), "_"), -1).cast("long").as("rep"))
        .agg(countDistinct("rep")).head().getLong(0)
      assert(repSuffixes == 2, s"expected 2 replica suffixes, got $repSuffixes")
    } finally {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(path).getParent)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
