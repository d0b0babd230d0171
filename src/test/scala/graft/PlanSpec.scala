package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.gen.Synth
import graft.queries.Relational

/**
 * Physical-plan shape assertions (.explain is a correctness surface at
 * scale): filters and projections must reach the parquet scan, small
 * dimensions must broadcast, and the dedup pipeline must never scan the
 * image `bytes` column it doesn't use.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicates push down to the parquet scan") {
    val p = plan(Relational.q02FilterProject(spark, dir))
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"),
      "shipdate filter must reach the scan")
  }

  test("q02: scan reads only the referenced columns") {
    val p = plan(Relational.q02FilterProject(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(readSchema.contains("l_orderkey"), readSchema)
  }

  test("q04: small dimensions join via broadcast") {
    val p = plan(Relational.q04RegionSuppliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("pipeline never scans the image bytes column") {
    val corpusPath = "target/planspec-corpus"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      Synth.corpus(spark, 400).write.mode("overwrite").parquet(corpusPath)
    }
    val input = spark.read.parquet(corpusPath)
    val r = Dedup.run(spark, input, DedupConfig.default)
    val p = plan(r.verified)
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.nonEmpty)
    assert(!readSchemas.contains("bytes"),
      s"bytes column must be pruned from every scan:\n$readSchemas")
  }

  test("candidate machinery is count-window-free (hot-key skew safety)") {
    import org.apache.spark.sql.functions._
    import graft.pairs.Candidates
    // A count(*) OVER (PARTITION BY key) would co-locate every occurrence
    // of the hottest key on one task with no remedy (windows cannot be
    // split) — the round-2 skew exposure. The salted join's size tagging
    // must be a partial-agg + join-back (AQE skew-join can split a hot
    // join partition at runtime), so its plan contains NO Window operator
    // and carries the singleton filter (m >= 2) that keeps one-row buckets
    // out of the grid shuffle.
    import spark.implicits._
    // repartition: the DISTRIBUTED plan shape over a scanned frame is what
    // this test exists to pin
    val banded = (0 until 1000).map(i => (f"id$i%04d", i % 3, (i % 7).toLong))
      .toDF("id", "band", "bkey").repartition(4)
    val cap8 = DedupConfig.default.copy(bucketSizeCap = 8)
    val p = plan(Candidates.saltedSelfJoin(banded, cap8))
    assert(!p.contains("Window"), s"no window in the salted join:\n${p.take(1200)}")
    assert(p.contains(">= 2"), s"singleton buckets must be filtered pre-grid:\n${p.take(1200)}")

    val q21 = plan(graft.queries.Documents.q21NgramJaccard(spark, dir))
    assert(!q21.contains("Window"), "no df count window in q21")

    // a LocalRelation cohort yields the same pair multiset
    val local = spark.createDataFrame(
      java.util.Arrays.asList(banded.collect(): _*), banded.schema)
    val localPairs = Candidates.saltedSelfJoin(local, cap8)
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    val distPairs = Candidates.saltedSelfJoin(banded, cap8)
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    assert(localPairs == distPairs,
      s"local fast-path pair set diverged: ${localPairs.size} vs ${distPairs.size}")
  }

  test("rep maps are window-free (hot group co-location safety)") {
    // min(id) OVER (PARTITION BY key) would put EVERY row of the hottest
    // exact/caption/phash group on one task — the most skewed spot of the
    // whole input (boilerplate captions, identical images). The rep maps
    // must be partial-agg groupBy + join-back instead (round-3 verdict #1).
    import graft.pairs.Candidates
    val corpusPath = "target/planspec-corpus"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      Synth.corpus(spark, 400).write.mode("overwrite").parquet(corpusPath)
    }
    val input = spark.read.parquet(corpusPath)
    val feats = Dedup.features(input, DedupConfig.default)
    for ((name, df) <- Seq(
        "exactRepMapFull" -> Candidates.exactRepMapFull(feats),
        "normMap" -> Candidates.normMap(feats),
        "phashRepMap" -> Candidates.phashRepMap(feats))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"$name must not use a window:\n${p.take(1200)}")
      // map-side combine: one row per group reaches the reducers
      // (min(string) aggs plan as SortAggregate, hence not "HashAggregate")
      assert(p.contains("partial_min"), s"$name must partial-agg:\n${p.take(1200)}")
    }
    // and the full candidate machinery end to end: four generators, salted
    // join, suffix pass — zero Window operators anywhere
    val cands = plan(Dedup.candidates(feats, DedupConfig.default))
    assert(!cands.contains("Window"),
      s"candidate machinery must be window-free end to end:\n${cands.take(1500)}")
  }

  /** Exchange nodes a plan runs: through AQE wrappers and query stages
    * (a persisted relation may already be materialized), and into each
    * persisted relation's plan once (its shuffles run once, however many
    * scans read it). */
  private def exchangeCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else 0
      case e: Exchange => 1 + e.children.map(walk).sum
      case o => o.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("substring generator plans each shuffle once") {
    // the norm map is persisted and shared by the probe side, the build
    // side and the member expansion; the expansion is one id-keyed join;
    // suffix keys dedup per row — re-deriving any of these brings back
    // exchanges
    import graft.pairs.Candidates
    val corpusPath = "target/planspec-corpus"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      Synth.corpus(spark, 400).write.mode("overwrite").parquet(corpusPath)
    }
    val clean = Dedup.features(spark.read.parquet(corpusPath), DedupConfig.default)
      .where(!col("is_low_quality"))
    val pairs = Candidates.substringPairs(clean, DedupConfig.default)
    val n = exchangeCount(pairs)
    info(s"substring plan exchanges: $n")
    assert(n <= 12, s"$n exchanges in the substring plan:\n${plan(pairs).take(3000)}")
  }

  test("decisions top-k is two-phase salted: no unbounded per-dst window input") {
    val corpusPath = "target/planspec-corpus"
    val input = spark.read.parquet(corpusPath)
    val r = Dedup.run(spark, input, DedupConfig.default)
    val p = plan(r.decisions.where(col("decision") =!= "none"))
    // phase 1 must rank within (dst, salt) — a hot dst splits across salts
    // and the phase-2 window sees <= k * DecisionSalts rows per dst
    assert(p.contains("__salt"), p.take(800))
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("bytes"))
  }

  test("ivf ann plan: posting-list scan is a splittable join, never a cartesian") {
    val p = plan(graft.queries.Engine.annIvfTopk(spark, dir))
    // the probe×assign posting scan and both vector rejoins must be
    // key-joins (AQE can split a hot cell); a CartesianProduct or
    // BroadcastNestedLoopJoin would mean the cell key got lost
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // exactly one Window: the final per-query top-k, whose input is bounded
    // by construction at nprobe*n/k rows per qid — no other operator may
    // introduce one (train runs OUTSIDE this plan, as build actions)
    val windows = "\\bWindow \\[".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly the top-k window, found $windows:\n${p.take(1200)}")
  }

  test("runCheckpointed hands back stage files: no InMemoryRelation in its frames") {
    // each stage is written once and read back from its files; a persisted
    // stage would carry its whole upstream plan into every later plan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val corpusPath = "target/planspec-corpus"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      Synth.corpus(spark, 400).write.mode("overwrite").parquet(corpusPath)
    }
    val root = "target/planspec-checkpointed"
    val rootDir = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootDir))
      java.nio.file.Files.walk(rootDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    val r = Dedup.runCheckpointed(spark, spark.read.parquet(corpusPath), root,
      DedupConfig.default)
    for ((name, df) <- Seq("features" -> r.features, "lowQuality" -> r.lowQuality,
        "candidates" -> r.candidates, "verified" -> r.verified, "clusters" -> r.clusters,
        "decisions" -> r.decisions, "recurring" -> r.recurring, "audit" -> r.audit)) {
      val cached = df.queryExecution.optimizedPlan.collect { case m: InMemoryRelation => m }
      assert(cached.isEmpty, s"$name plan holds ${cached.size} InMemoryRelation(s)")
    }
    // every stage the run wrote reads back with its manifest's schema,
    // which must be the schema footer inference yields
    for (stage <- Seq("features", "low_quality", "candidates", "verified", "clusters",
        "recurring", "decisions", "audit", "duplicate_history")) {
      val built = graft.tables.Layout.readSchema(graft.tables.Layout.manifestStamp(root, stage))
      assert(built.contains(spark.read.parquet(s"$root/$stage").schema), stage)
    }
  }

  test("a batch under the driver gate writes its candidates stage in at most 3 jobs") {
    // one bounded key collect and the write of one LocalRelation; the
    // distributed generators took about 35 jobs here
    val corpusPath = "target/planspec-corpus"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      Synth.corpus(spark, 400).write.mode("overwrite").parquet(corpusPath)
    }
    val root = "target/planspec-candidate-jobs"
    val rootDir = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootDir))
      java.nio.file.Files.walk(rootDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    val jobs = SparkTestSession.jobsOf {
      Dedup.runCheckpointed(spark, spark.read.parquet(corpusPath), root, DedupConfig.default)
    }
    val n = jobs.count(_ == "graft:candidates")
    info(s"graft:candidates jobs: $n of ${jobs.size}")
    assert(n >= 1 && n <= 3, s"$n candidates jobs")
    // the gate's decision is a _metrics row: placement and clean row count
    import spark.implicits._
    val placement = spark.read.parquet(s"$root/_metrics")
      .where(col("stage") === "candidates" && col("metric").startsWith("placement["))
      .select("metric", "value").as[(String, Double)].collect().toSeq
    val clean = graft.tables.Layout.manifestRows(root, "features") -
      graft.tables.Layout.manifestRows(root, "low_quality")
    assert(placement == Seq(("placement[local]", clean.toDouble)), placement)
  }
}
