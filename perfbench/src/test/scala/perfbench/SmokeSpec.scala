package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** A tiny-size run of every workload passes the output checks; the traced
  * run reports every per-layer metric. */
class SmokeSpec extends AnyFunSuite {

  private val tiny = Sizes(corpus = 200, wave = 40, probe = 20, probeLarge = 40)

  private def run(workload: String, trace: Boolean): java.io.File = {
    val base = Files.createTempDirectory(Paths.get("target").toAbsolutePath, s"smoke-$workload")
    val runDir = base.resolve("run").toString
    val code = new Bench(Args(workload, seed = 5L, seconds = 1, trace = trace,
      work = base.resolve("work").toString, runDir = runDir, revision = "test",
      expectDigest = None, sizes = tiny)).run()
    assert(code == 0, s"$workload failed its checks; see $runDir/record.json")
    new java.io.File(runDir)
  }

  Main.Workloads.foreach { w =>
    test(s"$w passes the output checks at tiny size") {
      val dir = run(w, trace = w != "bulk_resubmit")
      val record = new ObjectMapper().readTree(new java.io.File(dir, "record.json"))
      assert(record.get("violations").size == 0)
      assert(record.get("metrics").get("failed_op_share").get("value").asDouble == 0.0)
      if (w != "bulk_resubmit") {
        val rollup = new ObjectMapper().readTree(new java.io.File(dir, "rollup.json"))
        Layers.namesFor(w).foreach(n => assert(rollup.has(n), n))
        def v(n: String) = rollup.get(n).get("value").asDouble
        if (w == "bulk_dedup")
          Seq("features.jobs", "features.stages", "pairs.verify.busy_s", "pairs.exact.rows_out",
            "trace.op_s")
            .foreach(n => assert(v(n) > 0, n))
        else if (w == "ingest_waves")
          Seq("incremental.cohort.jobs", "incremental.global.busy_s", "probe.chains.jobs",
            "probe.open.busy_s").foreach(n => assert(v(n) > 0, n))
        else
          Seq("probe.chains.jobs", "probe.jobs_per_request", "trace.op_s")
            .foreach(n => assert(v(n) > 0, n))
        assert(new java.io.File(dir, "spans.jsonl").length > 0)
      }
    }
  }
}
