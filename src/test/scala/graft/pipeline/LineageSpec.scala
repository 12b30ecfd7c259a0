package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The lineage journal must carry per-partition task metrics (the
  * north rule's "per-partition lineage + metrics logged"). */
class LineageSpec extends AnyFunSuite with SharedSpark {

  test("journal lines carry rows + per-partition records/bytes/runtime") {
    val tmp = Files.createTempDirectory("lineage")
    val in = tmp.resolve("in").toString
    TokenTable.load(spark, "/root/testdata/sf0.001")
      .repartition(4).write.mode("overwrite").parquet(in)
    val ckpt = tmp.resolve("ckpt").toString
    val res = SketchBuildJob.run(spark, in, ckpt, filesPerBatch = 2)
    assert(res.batchesRun >= 2)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(Paths.get(ckpt, "lineage.jsonl"))
    assert(lines.size() == res.batchesRun)
    var totalRows = 0L
    lines.forEach { l =>
      val n = mapper.readTree(l)
      assert(n.get("status").asText() == "done")
      assert(n.get("files").size() >= 1)
      val parts = n.get("partitions")
      assert(parts.size() >= 1, "per-partition metrics present")
      var sum = 0L
      parts.forEach { p =>
        assert(p.get("records").asLong() > 0)
        assert(p.get("bytes").asLong() > 0)
        sum += p.get("records").asLong()
      }
      assert(n.get("rows").asLong() == sum)
      totalRows += n.get("rows").asLong()
    }
    // scan-side records across all batches = the table's row count
    val expect = spark.read.parquet(in).count()
    assert(totalRows == expect)
  }
}
