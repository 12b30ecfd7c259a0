package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session every suite shares: all suites run in one forked
 * test JVM, so they all get the same `local[4]` session. A test that
 * needs a session conf sets it through `withConf`, which restores the
 * previous values afterwards, so no setting outlives its test.
 */
trait SharedSpark {

  lazy val spark: SparkSession = LocalSpark.builder(4).getOrCreate()

  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
