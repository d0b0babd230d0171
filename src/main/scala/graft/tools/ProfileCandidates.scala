package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.config.DedupConfig
import graft.pairs.Candidates
import graft.Dedup

/** Dev tool: time each candidate generator in isolation over a materialized
  * features table. Usage: ProfileCandidates <featuresParquetDir>. */
object ProfileCandidates {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Sessions.build("graft-profile", cpus)
    val cfg = DedupConfig.default

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-14s rows=$n%8d  ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    }

    val only = sys.env.get("GRAFT_PROFILE_ONLY")
    if (only.contains("sketch")) {
      // timing of the sketch-persisting doc queries: compare reps 2-3
      // (rep 1 pays codegen). args(0) = table dir (e.g. sf0.1).
      val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
      def run3(name: String)(f: => Long): Unit = (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[sketch] $name rep$i rows=$n%8d  ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        graft.util.Caches.releaseAll(); spark.sqlContext.clearCache()
      }
      run3("simhash") { graft.queries.Engine.simhashDocs(spark, dir).count() }
      run3("ann") { graft.queries.Engine.annLshTopk(spark, dir).count() }
      if (sys.env.contains("GRAFT_STAGE_TIMER")) {
        val timer = StageTimer.attach(spark)
        println("[sketch] --- simhash stage breakdown (timed rep) ---")
        graft.queries.Engine.simhashDocs(spark, dir).count()
        timer.report(12)
        graft.util.Caches.releaseAll(); spark.sqlContext.clearCache()
        timer.rows.clear()
        println("[sketch] --- ann stage breakdown (timed rep) ---")
        graft.queries.Engine.annLshTopk(spark, dir).count()
        timer.report(12)
      }
      spark.stop(); return
    }
    if (only.contains("epoch")) {
      // incremental-epoch attribution: bootstrap most of the corpus, run two
      // warm epochs (codegen + page cache), then a timed epoch with the
      // stage listener attached. args(0) = a RAW corpus parquet.
      val input = spark.read.parquet(args(0)).orderBy("image_id")
      val n = input.count()
      val root = java.nio.file.Files.createTempDirectory("graft-epoch-prof").toString
      val cutPct = sys.env.getOrElse("GRAFT_EPOCH_CUT_PCT", "94").toInt
      val cut = (n * cutPct / 100).toInt
      time("bootstrap") {
        Dedup.runCheckpointed(spark,
          input.limit(cut), root, cfg).clusters.count()
      }
      val ids = input.select("image_id").orderBy("image_id")
        .collect().map(_.getString(0))
      def slice(i: Int) = {
        val lo = cut + (i - 1) * (n - cut).toInt / 3
        val hi = cut + i * (n - cut).toInt / 3
        input.where(col("image_id") >= ids(lo) &&
          (if (hi >= n) lit(true) else col("image_id") < ids(hi.toInt)))
      }
      time("epoch-warm1") { graft.Incremental.append(spark, root, slice(1), "p1", cfg).decisions.count() }
      time("epoch-warm2") { graft.Incremental.append(spark, root, slice(2), "p2", cfg).decisions.count() }
      val timer = StageTimer.attach(spark)
      // job-level timeline (ProbeBench's shape): start offset + duration per
      // job with its description — the driver-planning GAPS between jobs are
      // what stage metrics can't show
      val jobT0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
      val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?")
          jobStarts.put(j.jobId, (System.nanoTime(), d))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStarts.remove(j.jobId)).foreach { case (t0, d) =>
            println(f"[epoch-job] start=${(t0 - jobT0.get()) / 1e9}%7.3f " +
              f"dur=${(System.nanoTime() - t0) / 1e9}%6.3f  $d")
          }
        }
      })
      jobT0.set(System.nanoTime())
      time("epoch-timed") { graft.Incremental.append(spark, root, slice(3), "p3", cfg).decisions.count() }
      timer.report(25)
      println(f"[epoch] stages=${timer.rows.size} wall_sum=${timer.rows.map(_._3).sum / 1000.0}%.1f s " +
        f"cpu_sum=${timer.rows.map(_._5).sum / 1000.0}%.1f s")
      graft.util.Disk.rm(root) // the temp root is ~120MB per run
      spark.stop(); return
    }
    if (only.contains("pipeline")) {
      // args(0) = a RAW corpus parquet (e.g. target/bench-corpus-100000)
      val input = spark.read.parquet(args(0))
      def clearAll(): Unit = {
        graft.util.Caches.releaseAll(); spark.sqlContext.clearCache()
      }
      time("pipe-1") { Dedup.run(spark, input, cfg).clusters.count() }
      clearAll()
      time("pipe-2") { Dedup.run(spark, input, cfg).clusters.count() }
      clearAll()
      val timer = StageTimer.attach(spark) // attribution for run 3 only
      time("pipe-3") { Dedup.run(spark, input, cfg).clusters.count() }
      timer.report(20)
      spark.stop(); return
    }

    if (only.contains("docscan")) {
      // isolate the single-task scan/exchange stage simhashDocs pays
      val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
      def docs0 = spark.read.parquet(s"$dir/documents.parquet")
      time("scan-count") { docs0.count() }
      time("scan-collect") { docs0.collect().length.toLong }
      time("repart-count") { docs0.repartition(32).count() }
      time("repart-count2") { docs0.repartition(32).count() }
      time("sketch-direct") {
        docs0.repartition(32)
          .select(graft.sig.SimHash.simhash64Col(
            org.apache.spark.sql.functions.array_distinct(
              org.apache.spark.sql.functions.transform(
                graft.queries.Documents.shingles3(col("text")),
                x => org.apache.spark.sql.functions.xxhash64(x)))).as("sh"))
          .count()
      }
      time("sketch-direct2") {
        docs0.repartition(32)
          .select(graft.sig.SimHash.simhash64Col(
            org.apache.spark.sql.functions.array_distinct(
              org.apache.spark.sql.functions.transform(
                graft.queries.Documents.shingles3(col("text")),
                x => org.apache.spark.sql.functions.xxhash64(x)))).as("sh"))
          .count()
      }
      spark.stop(); return
    }
    // docs/q21 read the sf tables directly — no features dir required
    if (only.contains("docs")) {
      val timer = StageTimer.attach(spark)
      time("mh-docs-1") { graft.queries.Engine.minhashCandidatesDocs(spark, "/root/testdata/sf0.1").count() }
      time("mh-docs-2") { graft.queries.Engine.minhashCandidatesDocs(spark, "/root/testdata/sf0.1").count() }
      time("mh-docs-3") { graft.queries.Engine.minhashCandidatesDocs(spark, "/root/testdata/sf0.1").count() }
      timer.report(10)
      spark.stop(); return
    }
    if (only.contains("q21bench")) {
      // replicate Bench's exact q21 protocol: warm the plan on sf0.001,
      // clear all caches + memo, then time the cold sf0.1 computation
      graft.SparkEntry.queries("q21_ngram_jaccard")(spark, "/root/testdata/sf0.001").count()
      graft.util.Caches.releaseAll(); spark.sqlContext.clearCache()
      val timer = StageTimer.attach(spark)
      time("q21-bench") { graft.SparkEntry.queries("q21_ngram_jaccard")(spark, "/root/testdata/sf0.1").count() }
      timer.report(14)
      spark.stop(); return
    }
    if (only.contains("q21")) {
      val timer = StageTimer.attach(spark)
      time("q21-1") { graft.queries.Documents.q21NgramJaccard(spark, "/root/testdata/sf0.1").count() }
      time("q21-2") { graft.queries.Documents.q21NgramJaccard(spark, "/root/testdata/sf0.1").count() }
      time("q21-3") { graft.queries.Documents.q21NgramJaccard(spark, "/root/testdata/sf0.1").count() }
      timer.report(14)
      spark.stop(); return
    }

    val feats = spark.read.parquet(args(0))
    val clean = feats.where(!col("is_low_quality")).cache()
    println(s"clean rows: ${clean.count()}")
    if (only.contains("union")) {
      val timer = StageTimer.attach(spark)
      time("union-all") { Dedup.candidates(clean, cfg).count() }
      timer.report(12)
      spark.stop(); return
    }
    if (only.contains("simhash")) {
      import graft.sig.SimHash
      val phRep = clean.select(col("image_id"), col("phash"))
        .withColumn("prep", min(col("image_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))))
      val distinctPh = phRep.where(col("image_id") === col("prep"))
        .select(col("prep").as("id"), col("phash"))
      time("ph-window") { distinctPh.count() }
      val banded = distinctPh.select(col("id"),
        posexplode(SimHash.comboKeysCol(col("phash"), cfg.phashBands, cfg.phashAgree))
          .as(Seq("band", "bkey")))
      time("ph-explode") { banded.count() }
      time("ph-salted") { Candidates.saltedSelfJoin(banded, cfg).count() }
      time("ph-salted2") { Candidates.saltedSelfJoin(banded, cfg).count() }
      val sketch = distinctPh.cache().select(col("id"),
        SimHash.comboKeysNativeCol(col("phash"), cfg.phashBands, cfg.phashAgree)
          .as("bks"))
      time("ph-sketch") { Candidates.saltedSelfJoinSketch(sketch, cfg).count() }
      val timer = StageTimer.attach(spark)
      time("ph-sketch2") { Candidates.saltedSelfJoinSketch(sketch, cfg).count() }
      timer.report(8)
      spark.stop(); return
    }
    if (only.contains("substr")) {
      val timer = StageTimer.attach(spark)
      time("substr-full") { Candidates.substringPairs(clean, cfg).count() }
      timer.report()
      spark.stop(); return
    }
    val repMap = Candidates.exactRepMap(clean)
    time("exact") { Candidates.exactPairs(repMap).count() }
    val reps = clean.join(repMap.where(col("image_id") === col("rep")).select("image_id"),
      Seq("image_id")).cache()
    time("reps") { reps.count() }

    // bisect the minhash path
    import graft.sig.MinHash
    val sigs = reps.where(col("shingles").isNotNull && size(col("shingles")) > 0)
      .select(col("image_id").as("id"),
        MinHash.signatureCol(col("shingles"), cfg.numHashes, cfg.hashSeed).as("sig"))
    time("sig-proj") { sigs.count() }
    val banded = sigs.select(col("id"),
      posexplode(MinHash.bandKeysCol(col("sig"), cfg.bands, cfg.hashSeed)).as(Seq("band", "bkey")))
    time("banded") { banded.count() }
    val bandedC = banded.cache()
    time("banded-cache") { bandedC.count() }
    time("plain-selfjoin") {
      bandedC.as("l").join(bandedC.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.id") < col("r.id")).count()
    }
    time("salted-join") { Candidates.saltedSelfJoin(bandedC, cfg).count() }
    time("minhash-full") { Candidates.minhashPairs(reps, cfg).count() }
    time("simhash-full") { Candidates.simhashPairs(clean, cfg).count() }
    time("substr-full") { Candidates.substringPairs(clean, cfg).count() }
    time("union-all") { Dedup.candidates(clean, cfg).count() }
    spark.stop()
  }
}
