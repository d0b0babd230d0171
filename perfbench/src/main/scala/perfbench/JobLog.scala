package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One finished Spark job as the listener saw it. */
final case class JobRec(
    id: Int,
    description: String,
    startNs: Long,
    endNs: Long,
    stages: Int,
    tasks: Int,
    runCoreS: Double,
    cpuS: Double,
    gcS: Double,
    shuffleBytes: Long,
    spillBytes: Long,
    outputBytes: Long,
    outputRows: Long)

/**
 * Benchmark-owned listener: records every job with its description (the
 * `graft:<stage>` / `probe:<label>` labels the engine sets) and the task
 * metrics of its stages. Attached only in traced runs.
 */
final class JobLog extends SparkListener {
  private final class Acc(val id: Int, val desc: String, val startNs: Long) {
    var stages = 0; var tasks = 0
    var run = 0.0; var cpu = 0.0; var gc = 0.0
    var shuffle = 0L; var spill = 0L; var out = 0L; var rows = 0L
  }
  private val open = mutable.Map.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  // listener events carry epoch millis; spans use nanoTime — one offset
  // taken at construction maps the former onto the latter
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val a = new Acc(e.jobId, d, ns(e.time))
    a.stages = e.stageIds.size
    open(e.jobId) = a
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- open.get(j); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.run += m.executorRunTime / 1e3
      a.cpu += m.executorCpuTime / 1e9
      a.gc += m.jvmGCTime / 1e3
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.out += m.outputMetrics.bytesWritten
      a.rows += m.outputMetrics.recordsWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRec(a.id, a.desc, a.startNs, ns(e.time), a.stages, a.tasks,
        a.run, a.cpu, a.gc, a.shuffle, a.spill, a.out, a.rows)
    }
    stageJob.filterInPlace((_, j) => j != e.jobId)
  }

  /** Finished jobs so far, in completion order. */
  def jobs: Seq[JobRec] = synchronized(done.toList)
}
