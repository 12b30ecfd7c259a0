package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The one drain every streaming operator runs through: the sink is
  * seeded from the per-batch body, not from the source, and the
  * returned count is the number of micro-batches. */
class StreamDrainSpec extends AnyFunSuite with SharedSpark {

  test("drainToSink seeds the body's schema and counts every micro-batch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("drainspec")
    val in = tmp.resolve("in")
    val cp = tmp.resolve("cp").toString
    val sink = tmp.resolve("out").toString
    // three one-row files, one per trigger
    StreamSinks.stageFiles(in, (1 to 3).map(i => Seq((i, i * 10)).toDF("k", "v")))
    val stream = StreamSinks.source(spark, in.toString, maxFilesPerTrigger = 1)
    // renames and retypes every column, and drops every row: only the
    // seed can carry the body's schema into the sink
    val batches = StreamSinks.drainToSink(stream, cp, sink) { batch =>
      batch.filter(lit(false))
        .select(col("k").cast("string").as("key"), (col("v") * 2L).as("v2"))
    }
    val out = StreamSinks.readAppend(spark, sink)
    assert(out.schema.map(f => f.name -> f.dataType) == Seq("key" -> StringType, "v2" -> LongType))
    assert(out.count() == 0)
    // one commit file per micro-batch the query ran
    val commits = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(cp, "commits"))
      try l.filter(p => !p.getFileName.toString.startsWith(".")).count()
      finally l.close()
    }
    assert(batches == commits, s"drain counted $batches, checkpoint committed $commits")
    assert(batches == 3, "one micro-batch per staged file")
  }
}
