package graft.pipeline

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-layout evidence: the claims the q_bucketed_join /
 * q_partition_prune / q_zonemap_prune gates pin into their answers,
 * measured directly — exchange counts under the join, pruned file
 * lists, and actual scan-output row counts (row-group skipping) on
 * sorted vs shuffled layouts of the SAME data.
 */
class LayoutSpec extends AnyFunSuite with SharedSpark {

  test("bucketed join runs with zero exchanges and matches the plain join") {
    import spark.implicits._
    val dim = (0 until 200).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    val fact = (0 until 5000).map(i => (i % 200L, i.toLong)).toDF("k", "v")
    val root = Files.createTempDirectory("bktspec").toString
    Layout.writeBucketed(dim, "spec_bkt_dim", s"$root/dim", "k", 4)
    Layout.writeBucketed(fact, "spec_bkt_fact", s"$root/fact", "k", 4)

    val j = spark.table("spec_bkt_dim").hint("merge")
      .join(spark.table("spec_bkt_fact"), "k")
    assert(Layout.joinShuffles(j) == 0,
      s"expected co-located join, plan:\n${j.queryExecution.sparkPlan}")

    val got = j.groupBy("name").agg(sum("v").as("sv"))
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    val want = dim.join(fact, "k").groupBy("name").agg(sum("v").as("sv"))
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(want))

    // an UNbucketed copy of the same join must shuffle both sides —
    // the bucketed layout is what removed them
    val plain = dim.hint("merge").join(fact, "k")
    assert(Layout.joinShuffles(plain) == 2)
  }

  test("bucket-key equality filter prunes to a single bucket's files") {
    val one = spark.table("spec_bkt_fact").filter(col("k") === 7L)
    assert(one.queryExecution.sparkPlan.toString
        .contains("SelectedBucketsCount: 1 out of 4"),
      s"plan:\n${one.queryExecution.sparkPlan}")
    assert(one.count() == 25) // 5000 rows, i % 200 == 7
  }

  test("salted join: row parity on skewed data, exchanges hash on (key, salt)") {
    import spark.implicits._
    // 90% of fact rows hit one hot key
    val fact = (0 until 2000)
      .map(i => (if (i % 10 == 0) i % 50L else 7L, i.toLong)).toDF("k", "v")
    val dim = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("k", "name")

    val j = Layout.saltedJoin(fact, dim, "k", 8)
    val arities = Layout.joinExchangeArities(j)
    assert(arities.length == 2 && arities.forall(_ == 2),
      s"expected 2 exchanges clustering on (key, salt), got $arities")

    val got = j.groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = fact.join(dim, "k").groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want))

    // the hot key's fact rows really do span multiple salt values
    val hotSalts = fact.filter(col("k") === 7L)
      .withColumn("__salt", pmod(xxhash64(fact.columns.map(col).toSeq: _*), lit(8)))
      .select("__salt").distinct().count()
    assert(hotSalts > 1, s"hot key landed on $hotSalts salt value(s)")
  }

  test("partition pruning: only the selected directory is listed or read") {
    import spark.implicits._
    val df = (0 until 1000)
      .map(i => (i.toLong, s"src${i % 10}", i % 7)).toDF("id", "source", "x")
    val root = Files.createTempDirectory("hivespec").toString
    Layout.writeHivePartitioned(df, root, "source")

    val r = spark.read.parquet(root).filter(col("source") === "src3")
    assert(Layout.usesPartitionFilter(r))
    assert(r.count() == 100)
    // the executed scan opened ONLY the selected directory's files
    val src3Files = new java.io.File(s"$root/source=src3").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(Layout.scannedFiles(r) == src3Files)

    // without the predicate every directory is read
    val all = spark.read.parquet(root)
    assert(Layout.scannedFiles(all) > src3Files)
    assert(!Layout.usesPartitionFilter(all))
  }

  test("zone maps: sorted layout skips row groups, shuffled layout reads all") {
    import spark.implicits._
    val n = 200000
    val df = (0 until n).map(i => (i.toLong, i % 97)).toDF("ts_ms", "x")
    val sortedDir = Files.createTempDirectory("zmapsorted").toString
    val shuffledDir = Files.createTempDirectory("zmapshuffled").toString
    Layout.writeSortedShards(df, sortedDir, "ts_ms", 8)
    // same rows, hash-scattered AND locally reordered by x so every
    // parquet page (not just row group) spans ~the full ts_ms range —
    // otherwise column-index page stats still skip partially
    df.repartition(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(shuffledDir)

    def probe(dir: String) = {
      val r = spark.read.parquet(dir)
        .filter(col("ts_ms") >= 10000L && col("ts_ms") < 12000L)
      assert(r.count() == 2000)
      Layout.scanOutputRows(r)
    }
    val sortedRows = probe(sortedDir)
    val shuffledRows = probe(shuffledDir)
    // sorted: the pushed range hits one shard's row group(s) — at
    // most 1/8 of the table (plus slack); shuffled: min/max of every
    // row group spans the predicate, nothing is skipped
    assert(sortedRows <= n / 4,
      s"sorted layout read $sortedRows rows, expected row-group skipping")
    assert(shuffledRows == n,
      s"shuffled layout read $shuffledRows rows, expected full scan")
  }

  test("parquet bloom filter: equality probe on an unsorted key skips row groups stats cannot") {
    import spark.implicits._
    val n = 100000
    // high-cardinality unsorted key: every file's min/max spans ~the
    // whole hex space, so stats-based skipping is structurally dead
    val df = (0 until n).map(_.toLong).toDF("id")
      .select(col("id"), md5(col("id").cast("string")).as("key"))
    val bloomDir = Files.createTempDirectory("pqbloom").toString
    val plainDir = Files.createTempDirectory("pqplain").toString
    val writer = df.repartition(16, col("key"))
    writer.write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.expected.ndv#key", "1000000")
      .parquet(bloomDir)
    writer.write.mode("overwrite").parquet(plainDir)
    val probe = java.security.MessageDigest.getInstance("MD5")
      .digest("777".getBytes("UTF-8")).map("%02x".format(_)).mkString

    def probeScan(dir: String) = {
      val r = spark.read.parquet(dir).filter(col("key") === probe)
      assert(r.count() == 1)
      Layout.scanOutputRows(r)
    }
    val withBloom = probeScan(bloomDir)
    val without = probeScan(plainDir)
    assert(withBloom <= n / 4,
      s"bloom layout scanned $withBloom rows, expected row-group skipping")
    assert(without >= n / 2,
      s"plain layout scanned $without rows, expected stats to skip ~nothing")
  }

  test("zValue matches a reference Morton interleave") {
    import spark.implicits._
    def morton(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val pairs = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b"), 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == morton(a, b, 4), s"($a,$b)")
    }
    // distinct 2D points get distinct z-values (the interleave is a bijection)
    assert(got.values.toSet.size == pairs.size)
  }

  test("z-order: user-band predicate skips row groups a ts-sorted layout cannot") {
    import spark.implicits._
    val n = 196608 // 1024 * 192: every user residue appears exactly 192 times
    // ts and user uncorrelated by construction
    val df = (0 until n).map(i => (i.toLong, (i * 2654435761L) % 1024L))
      .toDF("ts_ms", "user_id")
    val zDir = Files.createTempDirectory("zord").toString
    val tsDir = Files.createTempDirectory("tsord").toString
    Layout.writeZOrdered(df, zDir,
      col("ts_ms") * 256L / n, col("user_id") / 4L, bits = 8, shards = 16)
    Layout.writeSortedShards(df, tsDir, "ts_ms", 16)

    def probe(dir: String) = {
      val r = spark.read.parquet(dir)
        .filter(col("user_id") >= 512L && col("user_id") < 768L)
      assert(r.count() == n / 4)
      Layout.scanOutputRows(r)
    }
    val zRows = probe(zDir)
    val tsRows = probe(tsDir)
    // z-ordered: each shard is a (ts, user) rectangle, so 3/4 of the
    // shards' user min/max miss the band entirely (plus slack);
    // ts-sorted: every shard spans all users — nothing skips
    assert(zRows <= n / 2,
      s"z-ordered layout read $zRows rows, expected cross-axis skipping")
    assert(tsRows == n,
      s"ts-sorted layout read $tsRows rows, expected full scan")
  }
}
