package graft

/** Driver-parity smoke: runs SparkEntry.entry and prints its rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(8).getOrCreate()
    val df = SparkEntry.entry(spark)
    df.show(50, truncate = false)
    println(s"entry rows=${df.count()}")
    spark.stop()
  }
}
