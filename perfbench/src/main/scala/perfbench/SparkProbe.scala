package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Engine-side counters for the traced run, following the listener
 * pattern of the program's resumable build job: every job, stage and
 * successful task end is folded into spans and counters. Jobs carry the
 * id of the benchmark span that submitted them (local property
 * `perfbench.span`), so their spans nest under the caller's.
 */
final class SparkProbe(trace: Trace) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Long, Seq[Int])] // job -> (startMs, parent span, stages)
  private val stageSpan = mutable.Map.empty[Int, (Long, Long)]          // stage -> (submitMs, completeMs)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  @volatile var peakExecMem = 0L
  @volatile var maxSkew = 0.0
  @volatile var jobs = 0
  @volatile var stages = 0

  private def ns(ms: Long): Long = ms * 1000000L + msToNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (e.time, parent, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, stageIds) =>
      jobs += 1
      val id = trace.newId()
      trace.record(Span(id, parent, parent, "spark.job", ns(t0), ns(e.time)))
      val iv = stageIds.flatMap(stageSpan.get).map { case (a, b) => (ns(a), ns(b)) }
      stageIds.flatMap(stageSpan.get).foreach { case (a, b) =>
        trace.record(Span(trace.newId(), parent, id, "spark.stage", ns(a), ns(b)))
      }
      val gap = (ns(e.time) - ns(t0)) - Trace.covered(iv)
      trace.count("spark.driver_gap_s", math.max(0L, gap) / 1e9)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    for (a <- i.submissionTime; b <- i.completionTime) stageSpan(i.stageId) = (a, b)
    val m = i.taskMetrics
    if (m != null) {
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3).getOrElse(0.0)
      val reads = m.inputMetrics.recordsRead
      val shuffleIn = m.shuffleReadMetrics.totalBytesRead
      // the partial-aggregation stage scans; the final one reads the shuffle
      if (reads > 0 && m.shuffleWriteMetrics.bytesWritten > 0) {
        trace.count("agg.partial_stage_s", wall)
        trace.count("agg.partial_out_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        trace.count("agg.partial_in_records", reads.toDouble)
      } else if (shuffleIn > 0) trace.count("agg.final_stage_s", wall)
    }
    stageTasks.remove(i.stageId).foreach { ds =>
      if (ds.length >= 2) {
        val s = ds.sorted
        val med = math.max(1L, s(s.length / 2))
        maxSkew = math.max(maxSkew, s.last.toDouble / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.reason == org.apache.spark.Success && m != null) {
      trace.count("spark.tasks", 1)
      trace.count("spark.executor_run_s", m.executorRunTime / 1e3)
      trace.count("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      trace.count("spark.gc_s", m.jvmGCTime / 1e3)
      trace.count("spark.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      trace.count("spark.scan_records", m.inputMetrics.recordsRead.toDouble)
      trace.count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      trace.count("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      trace.count("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}
