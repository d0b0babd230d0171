package graft

import java.nio.file.{Files, Paths}

import graft.config.DedupConfig
import graft.gen.Synth
import graft.util.Sessions

/**
 * Two-cluster-size scaling evidence (BASELINE.json north_rule: "run via
 * spark-submit at N and 4N executors with throughput scaling efficiency
 * >= 0.8").
 *
 * Sandbox protocol (BENCH/BASELINE.md): no real cluster exists here, so N
 * and 4N executors are modeled as two local[k] core counts — the shipped
 * protocol is N=2 vs 4N=8 cores (scripts/scaling_run.sh), chosen because
 * pure arithmetic over `spark.range` (splitmix64, 2·10⁹ values, one JVM per
 * core count) measured the 32-vCPU box's cores anti-scaling beyond ~8
 * threads: 3.2x from 2 to 8 cores, 3.1x at 16 (BENCH/BASELINE.md). Same
 * input, same JVM memory, `spark.sql.shuffle.partitions`
 * scaled with cores; efficiency = (T_N / T_4N) / 4. The core counts are
 * parameters of `measure`, not hardcoded here.
 *
 * Measurement hygiene (learned the hard way — a single-JVM back-to-back
 * comparison produced local[8] "beating" local[32] 2x purely through JIT
 * warmup order):
 *  - each configuration runs in its OWN JVM (scripts/scaling_run.sh launches
 *    one `measure` invocation per cluster size);
 *  - each JVM warms up on a 10%-slice pipeline run before measuring;
 *  - the corpus is pre-materialized parquet (`gen`), so generator cost and
 *    OS page cache state are identical for both runs.
 *
 * Subcommands:
 *   gen <rows>              materialize the corpus parquet
 *   measure <cores> <rows>  run warmup + measured pipeline, print one
 *                           JSON line tagged [scaling-json]
 */
object ScalingBench {

  def corpusPath(rows: Long) = s"target/scaling-corpus-$rows"

  def main(args: Array[String]): Unit = args match {
    case Array("gen", rowsS) =>
      val rows = rowsS.toLong
      if (!Files.exists(Paths.get(corpusPath(rows), "_SUCCESS"))) {
        val s = Sessions.build("graft-scaling-gen", "32")
        Synth.corpus(s, rows).write.mode("overwrite").parquet(corpusPath(rows))
        s.stop()
      }
      println(s"[scaling] corpus ready: ${corpusPath(rows)}")
      sys.exit(0)

    case Array("measure", coresS, rowsS) =>
      val cores = coresS.toInt
      val rows = rowsS.toLong
      // disk safety (util.Disk): sweep crashed runs' leftovers — round 4's
      // ENOSPC was partly leftover graft-scaling-* corpora — own the Spark
      // scratch dir, delete everything this measurement created in a
      // finally, and hard-exit so no straggler thread keeps the JVM (and
      // its shuffle dirs) alive after the JSON line is printed
      graft.util.Disk.sweep("/tmp", "graft-scaling-")
      Seq("scaling-warm-", "scaling-out-", "scaling-local-")
        .foreach(graft.util.Disk.sweep("target", _))
      val localDir = graft.util.Disk.ownLocalDir("scaling")
      val warmDir = s"target/scaling-warm-${ProcessHandle.current().pid()}"
      val outDir = s"target/scaling-out-${ProcessHandle.current().pid()}"
      val s = Sessions.build(s"graft-scaling-$cores", cores.toString,
        Map("spark.local.dir" -> localDir))
      try {
        // warmup: identical plan shape on a 10% slice, result discarded
        val warm = s.read.parquet(corpusPath(rows)).limit((rows / 10).toInt)
        Dedup.runCheckpointed(s, warm, warmDir, DedupConfig.default).clusters.count()

        val timer = if (sys.env.contains("GRAFT_STAGE_TIMER"))
          Some(graft.tools.StageTimer.attach(s)) else None
        // the measured job is the PRODUCTION path: the checkpointed, resumable
        // pipeline (per-stage Iceberg-layout tables + lineage), not the
        // in-memory variant
        val input = s.read.parquet(corpusPath(rows))
        val t0 = System.nanoTime()
        val r = Dedup.runCheckpointed(s, input, outDir, DedupConfig.default)
        val clean = r.clusters.count()
        val sec = (System.nanoTime() - t0) / 1e9
        timer.foreach { t =>
          t.report(20)
          println(f"[scaling] total stage wall=${t.rows.map(_._3).sum / 1000.0}%.1f s " +
            f"cpu=${t.rows.map(_._5).sum / 1000.0}%.1f s stages=${t.rows.size}")
        }
        println(f"[scaling-json] {" +
          f""""cores":$cores,"rows":$rows,"clean":$clean,"sec":$sec%.2f,""" +
          f""""images_per_sec":${rows / sec}%.1f,""" +
          f""""disk_free_gb_end":${graft.util.Disk.freeGb()}%.1f}""")
      } finally {
        try s.stop() catch { case _: Throwable => }
        Seq(warmDir, outDir, localDir).foreach(graft.util.Disk.rm)
      }
      sys.exit(0)

    case _ =>
      System.err.println("usage: ScalingBench gen <rows> | measure <cores> <rows>")
      sys.exit(2)
  }
}
