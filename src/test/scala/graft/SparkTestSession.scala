package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One local session shared by all suites (scalatest runs suites in one JVM).
  *
  * `spark.local.dir` is test-JVM-owned under target/ (not /tmp) and stale
  * dirs from crashed runs are swept at init: the round-4 driver bench died
  * on ENOSPC from a 30 GB stale `/tmp/blockmgr-*` left by a prior test JVM,
  * and the same accumulation is what made JVM exit slow (Spark's shutdown
  * hook deletes the local dir synchronously — a multi-GB dir holds the
  * process for minutes after `[success]`). Owned + swept keeps both failure
  * modes impossible: leftovers live at a known path the next run reclaims,
  * and the shutdown delete stays small. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    graft.util.Disk.sweep("target", "test-local-")
    // Suite wall time is dominated by per-job driver floors (planning,
    // parquet commit protocol, scheduling), not task data: local[4] ->
    // local[8] on the 4 heaviest suites only bought 16.5 -> 12.8 min.
    // The real lever is suite-level parallelism (Test/testForkedParallel):
    // concurrent suites overlap their driver floors against one shared
    // session. 16 executor threads keep task slots from starving under
    // concurrent jobs; shuffle stays at 8 partitions per stage.
    graft.util.Sessions.build("graft-tests", "16",
      Map("spark.sql.shuffle.partitions" -> "8",
        "spark.local.dir" -> graft.util.Disk.ownLocalDir("test")))
  }

  /** Descriptions of the jobs `f` starts on this thread (null when a job
    * has none). Its jobs carry this thread's job group; a fence job run
    * after `f` drains the asynchronous listener bus, which delivers events
    * in order — and other suites' jobs carry other groups. */
  def jobsOf(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[Option[String]]
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val g = p.getProperty("spark.jobGroup.id")
          if (g == group) seen.add(Option(p.getProperty("spark.job.description")))
          else if (g == s"$group-fence") fence.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      f
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(120, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq.map(_.orNull)
  }
}
