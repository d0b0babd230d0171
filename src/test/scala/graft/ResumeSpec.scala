package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.gen.Synth
import graft.tables.Layout

/** Resumability gate (BASELINE.md): any stage re-runnable from its
  * per-stage checkpoint; a restart skips completed stages and produces
  * identical outputs. */
class ResumeSpec extends AnyFunSuite with ParallelTestExecution {
  lazy val spark = SparkTestSession.spark

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("re-run skips completed stages and yields identical clusters") {
    import spark.implicits._
    val root = "target/resume-spec"
    deleteRec(Paths.get(root))
    val input = Synth.corpus(spark, 400).toDF()

    val first = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    val clustersA = first.clusters.as[(String, String)].collect().toSet

    val second = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    val clustersB = second.clusters.as[(String, String)].collect().toSet
    assert(clustersA == clustersB)

    val lineage = spark.read.parquet(s"$root/_lineage")
      .select("stage", "skipped").as[(String, Boolean)].collect()
    val stages = lineage.map(_._1).distinct
    // every stage has a skipped=true row from the second run
    stages.foreach { st =>
      assert(lineage.contains((st, true)), s"stage $st was not skipped on re-run")
    }

    // the run's own _metrics table carries the monitoring families the
    // reference dashboard publishes: decision counts + per-batch timeline,
    // average match score, quality-issue counts, cluster-size histogram
    val metrics = spark.read.parquet(s"$root/_metrics")
      .select("stage", "metric").as[(String, String)].collect().toSet
    assert(metrics.contains(("decisions", "blocked")), s"missing decision counts in $metrics")
    assert(metrics.contains(("decisions", s"blocked[batch=${Dedup.BaseBatch}]")),
      "missing per-batch decision timeline")
    assert(metrics.contains(("decisions", "average_match_score")))
    assert(metrics.exists { case (s, m) => s == "low_quality" && m.startsWith("issue[") },
      "missing quality-issue counts")
    assert(metrics.exists { case (s, m) => s == "clusters" && m.startsWith("size[") },
      "missing cluster-size histogram")
  }

  test("incremental append: affected slices only; outputs equal full recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rootInc = "target/resume-spec-incr"
    val rootFull = "target/resume-spec-incr-full"
    val rootFallback = "target/resume-spec-incr-fallback"
    Seq(rootInc, rootFull, rootFallback).foreach(r => deleteRec(Paths.get(r)))
    val all = Synth.corpus(spark, 480).toDF()
    val cut = f"img-${400}%010d"
    val old = all.where(col("image_id") < cut)
    val neu = all.where(col("image_id") >= cut)

    Dedup.runCheckpointed(spark, old, rootInc, DedupConfig.default)
    val inc = Incremental.append(spark, rootInc, neu, "1", DedupConfig.default)
    val full = Dedup.runCheckpointed(spark, all, rootFull, DedupConfig.default)
    // the cohort with no driver budget: its pairs come from the distributed
    // generators over the prior rows and the batch
    Dedup.runCheckpointed(spark, old, rootFallback, DedupConfig.default)
    val fallback = Incremental.append(spark, rootFallback, neu, "1",
      DedupConfig.default.copy(driverBudget = 0))

    def pairSet(r: DedupResult) = r.verified
      .select(col("src"), col("dst"), round(col("hybrid"), 6), col("is_edge"),
        col("is_substring"), col("phash_hamming"), sort_array(col("sources")))
      .collect().map(_.toSeq).toSet
    assert(pairSet(inc) == pairSet(full), {
      val a = pairSet(inc); val b = pairSet(full)
      s"verified differ; inc-only=${(a -- b).take(5)} full-only=${(b -- a).take(5)}"
    })

    val ci = inc.clusters.as[(String, String)].collect().toSet
    val cf = full.clusters.as[(String, String)].collect().toSet
    assert(ci == cf, s"clusters differ: ${(ci -- cf).take(5)} / ${(cf -- ci).take(5)}")

    def decSet(r: DedupResult) = r.decisions
      .select(col("image_id"), col("decision"), col("best_match_id"),
        col("best_score"), col("cluster_id"), col("is_recurring"),
        size(col("top_matches")))
      .collect().map(_.toSeq).toSet
    assert(decSet(inc) == decSet(full))

    assert(pairSet(fallback) == pairSet(full))
    assert(fallback.clusters.as[(String, String)].collect().toSet == cf)
    assert(decSet(fallback) == decSet(full))
    def batchCands(root: String) = Layout.read(spark, root, "candidates")
      .where(col("batch") === "1").select("src", "dst", "source")
      .as[(String, String, String)].collect().toSeq.sorted
    assert(batchCands(rootInc) == batchCands(rootFallback))
    // each append records where its cohort built the pairs, valued with the
    // batch's clean rows
    val batchClean = Layout.partitionRows(rootInc, "features")("1") -
      Layout.partitionRows(rootInc, "low_quality").getOrElse("1", 0L)
    def placements(root: String) = spark.read.parquet(s"$root/_metrics")
      .where(col("stage") === "candidates").select("metric", "value")
      .as[(String, Double)].collect().toSet
    assert(placements(rootInc).contains(("placement[local]", batchClean.toDouble)))
    assert(placements(rootFallback).contains(("placement[distributed]", batchClean.toDouble)))

    // the incremental run must have APPENDED the new partition, not
    // recomputed the base: lineage shows features/1 computed while the
    // base 'features' stage has no second non-skipped row
    val lineage = spark.read.parquet(s"$rootInc/_lineage")
      .select("stage", "skipped").as[(String, Boolean)].collect()
    assert(lineage.count { case (s, sk) => s == "features" && !sk } == 1)
    assert(lineage.contains(("features/1", false)))
    assert(lineage.contains(("rep_map/1", false)))
    assert(lineage.contains(("banded/1", false)))

    // appending the same batch again skips every row-level slice
    Incremental.append(spark, rootInc, neu, "1", DedupConfig.default)
    val lineage2 = spark.read.parquet(s"$rootInc/_lineage")
      .select("stage", "skipped").as[(String, Boolean)].collect()
    assert(lineage2.contains(("features/1", true)))
    assert(lineage2.contains(("candidates/1", true)))
  }

  test("append == full recompute on a batch with null phashes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rootInc = "target/resume-spec-nullphash"
    val rootFull = "target/resume-spec-nullphash-full"
    deleteRec(Paths.get(rootInc)); deleteRec(Paths.get(rootFull))
    // every row whose id ends in 3 loses its phash, on both sides of the
    // cut; the batch also resubmits two old null-phash rows under new ids
    // (exact copies, null phash included) and copies a batch row
    val base = Synth.corpus(spark, 200).toDF()
      .withColumn("phash", when(col("image_id").endsWith("3"), lit(null).cast("long"))
        .otherwise(col("phash")))
    val copies = Seq("img-0000000003" -> "img-0000000900", "img-0000000013" -> "img-0000000901",
        "img-0000000183" -> "img-0000000902")
      .map { case (from, to) => base.where(col("image_id") === from).withColumn("image_id", lit(to)) }
      .reduce(_ unionByName _)
    val all = base.unionByName(copies)
    val cut = f"img-${180}%010d"

    Dedup.runCheckpointed(spark, all.where(col("image_id") < cut), rootInc, DedupConfig.default)
    val inc = Incremental.append(spark, rootInc, all.where(col("image_id") >= cut), "1",
      DedupConfig.default)
    val full = Dedup.runCheckpointed(spark, all, rootFull, DedupConfig.default)

    def pairSet(r: DedupResult) = r.verified
      .select(col("src"), col("dst"), round(col("hybrid"), 6), col("is_edge"),
        sort_array(col("sources")))
      .collect().map(_.toSeq).toSet
    val (a, b) = (pairSet(inc), pairSet(full))
    assert(a == b, s"verified differ; inc-only=${(a -- b).take(5)} full-only=${(b -- a).take(5)}")
    assert(a.exists(p => p(0) == "img-0000000003" && p(1) == "img-0000000900"),
      "a resubmitted null-phash row pairs with its source")
    assert(inc.clusters.as[(String, String)].collect().toSet ==
      full.clusters.as[(String, String)].collect().toSet)
    def decSet(r: DedupResult) = r.decisions
      .select(col("image_id"), col("decision"), col("best_match_id"), col("cluster_id"))
      .collect().map(_.toSeq).toSet
    assert(decSet(inc) == decSet(full))
  }

  test("incremental append merges two existing clusters through a bridging row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rootInc = "target/resume-spec-bridge"
    val rootFull = "target/resume-spec-bridge-full"
    deleteRec(Paths.get(rootInc)); deleteRec(Paths.get(rootFull))

    // two unrelated long captions in the base corpus, then a new row whose
    // caption CONTAINS both: substring edges (X,Z) and (Y,Z) appear only in
    // the appended batch and must merge X's and Y's previously-separate
    // clusters — the quotient-graph remap case of the incremental fast path
    val capA = "unique alpha beta gamma delta epsilon zeta caption body"
    val capB = "distinct one two three four five six seven caption tail"
    def row(id: String, caption: String, ph: Long) =
      gen.ImageRow(id, Array[Byte](1, 2), 64, 64, "png", caption, ph)
    val base = Synth.corpus(spark, 60).toDF().unionByName(Seq(
      row("img-0000000700", capA, 0x123456789ABCDEF0L),
      row("img-0000000701", capB, 0x0FEDCBA987654321L)).toDF())
    val bridge = Seq(
      row("img-0000000800", s"$capA $capB", 0x5555AAAA3333CCCCL)).toDF()

    Dedup.runCheckpointed(spark, base, rootInc, DedupConfig.default)
    val before = spark.read.parquet(s"$rootInc/clusters")
      .as[(String, String)].collect().toMap
    assert(before("img-0000000700") != before("img-0000000701"),
      "precondition: X and Y must start in different clusters")

    val inc = Incremental.append(spark, rootInc, bridge, "b1", DedupConfig.default)
    val after = inc.clusters.as[(String, String)].collect().toMap
    assert(after("img-0000000700") == after("img-0000000701"),
      "bridge row must merge the two clusters")
    assert(after("img-0000000800") == after("img-0000000700"))

    // the INCREMENTAL global path must have run (no overrides here) and
    // observed the merge: its lineage row records >= 1 remapped cluster
    val lineage = spark.read.parquet(s"$rootInc/_lineage")
      .select("stage", "rows").as[(String, Long)].collect()
    val fastRows = lineage.filter(_._1 == "global@incremental/b1")
    assert(fastRows.nonEmpty, "incremental global fast path did not run")
    assert(fastRows.exists(_._2 >= 1L), s"expected a remapped cluster, got $fastRows")

    // byte-for-byte parity with a full recompute over the union
    val full = Dedup.runCheckpointed(spark, base.unionByName(bridge), rootFull,
      DedupConfig.default)
    assert(after == full.clusters.as[(String, String)].collect().toMap)
    def decSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("image_id"), col("decision"), col("best_match_id"),
        col("best_score"), col("cluster_id"), col("is_recurring"),
        size(col("top_matches")))
      .collect().map(_.toSeq).toSet
    assert(decSet(inc.decisions) == decSet(full.decisions))
  }

  test("re-run of a partially-applied append still indexes new captions (suffix_keys)") {
    import org.apache.spark.sql.functions._
    val root = "target/resume-spec-crash"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 480).toDF()
    val cut = f"img-${400}%010d"
    Dedup.runCheckpointed(spark, all.where(col("image_id") < cut), root, DedupConfig.default)
    val neu = all.where(col("image_id") >= cut)
    val first = Incremental.append(spark, root, neu, "1", DedupConfig.default)
    val firstClusters = first.clusters.collect().map(_.toSeq).toSet
    val suffixRows = Layout.partitionRows(root, "suffix_keys")("1")
    assert(suffixRows > 0, "scenario needs new captions that enter the substring index")

    // reconstruct the mid-epoch crash state a stream redelivery retries:
    // features/rep_map/norm_map/banded committed, the suffix_keys slice and
    // everything downstream of it not — exactly the state in which the new
    // norms match THEMSELVES in the committed norm_map, so an
    // unmatchedN-derived slice would re-commit suffix_keys/1 EMPTY
    Seq("suffix_keys", "candidates", "verified")
      .foreach(Layout.dropPartition(root, _, "batch", "1"))
    Seq("clusters", "recurring", "decisions", "audit")
      .foreach(Layout.invalidate(root, _))

    val again = Incremental.append(spark, root, neu, "1", DedupConfig.default)
    assert(Layout.partitionRows(root, "suffix_keys")("1") == suffixRows,
      "re-run must re-commit the same non-empty suffix_keys slice")
    assert(again.clusters.collect().map(_.toSeq).toSet == firstClusters)
  }

  test("checkpoint root as a file: URI routes through the Hadoop filesystem") {
    import spark.implicits._
    val local = Paths.get("target/resume-spec-uri").toAbsolutePath
    deleteRec(local)
    val root = s"file:$local"
    val input = Synth.corpus(spark, 400).toDF()
    val first = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    val clustersA = first.clusters.as[(String, String)].collect().toSet
    assert(clustersA.nonEmpty)
    assert(Layout.isComplete(root, "clusters"))
    assert(Layout.manifestRows(root, "features") > 0)
    // a second run against the URI root resumes (skips every stage)
    val second = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    assert(second.clusters.as[(String, String)].collect().toSet == clustersA)
    val lineage = spark.read.parquet(s"$root/_lineage")
      .select("stage", "skipped").as[(String, Boolean)].collect()
    assert(lineage.contains(("features", true)), "URI root must resume too")
  }

  test("killing a stage (deleting its checkpoint) recomputes only from there") {
    import spark.implicits._
    val root = "target/resume-spec-kill"
    deleteRec(Paths.get(root))
    val input = Synth.corpus(spark, 400).toDF()
    val first = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    val clustersA = first.clusters.as[(String, String)].collect().toSet

    // simulate a crash during the 'verified' stage: its checkpoint and all
    // downstream checkpoints are gone (a real crash never completes them)
    deleteRec(Paths.get(root, "verified"))
    deleteRec(Paths.get(root, "clusters"))
    deleteRec(Paths.get(root, "decisions"))
    deleteRec(Paths.get(root, "recurring"))
    deleteRec(Paths.get(root, "audit"))

    assert(Layout.isComplete(root, "features"), "upstream checkpoint intact")
    assert(!Layout.isComplete(root, "verified"))

    val resumed = Dedup.runCheckpointed(spark, input, root, DedupConfig.default)
    val clustersB = resumed.clusters.as[(String, String)].collect().toSet
    assert(clustersA == clustersB)

    val lineage = spark.read.parquet(s"$root/_lineage")
      .select("stage", "skipped").as[(String, Boolean)].collect()
    // the resumed run must have SKIPPED features but RECOMPUTED verified
    val resumedRows = lineage.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    assert(resumedRows("features").count(_ == true) >= 1)
    assert(resumedRows("verified").count(_ == false) >= 2, "verified recomputed")
  }
}
