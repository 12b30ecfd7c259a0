package graft

/**
 * Gate harness, the one tool that times gates and captures their plans
 * (NOT part of the driver contract — `Bench.scala` stays the artifact
 * of record, untouched). Times a subset of `SparkEntry.queries` under
 * the exact session config the driver's bench uses (same master,
 * shuffle partitions, AQE, scan split sizing), with optional repeats
 * and plan capture, so a change can be measured in isolation without
 * paying the full bench's materialize + set/check + scaling sections.
 *
 *   runMain graft.BenchExtra <q1,q2,...|all> [repeats] [planDir]
 *
 * Prints one line per query: name, per-run seconds, min. When
 * `planDir` is given, writes `<planDir>/<query>.txt` with the
 * `.explain("formatted")` output of the query's final frame (the
 * files committed under plans/r06/).
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("all")
    val repeats = if (args.length > 1) args(1).toInt else 2
    val planDir = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.builder(cpus)
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    val all = SparkEntry.queries
    val picked =
      if (names == "all") all.toSeq.sortBy(_._1)
      else names.split(",").toSeq.map(n => n -> all(n))
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val results = picked.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      planDir.foreach { d =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"), plan)
      }
      val ts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[extra] $name: ${ts.map(t => f"$t%.2f").mkString(", ")} s (min ${ts.min}%.2f)")
      name -> ts.min
    }
    spark.sparkContext.setJobDescription(null)
    println("[extra] total-min: " + f"${results.map(_._2).sum}%.2f s")
    spark.stop()
  }
}
