package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.gen.Synth
import graft.tables.Layout

/** The read-only serving path: `Probe.run` must return exactly the decision
  * rows a subsequent `Incremental.append` of the same batch would write,
  * while leaving every byte under the root untouched. */
class ProbeSpec extends AnyFunSuite with ParallelTestExecution {
  lazy val spark = SparkTestSession.spark

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** (relative path, size, mtime) of every file under root. */
  private def snapshot(root: String): Set[(String, Long, Long)] = {
    val base = Paths.get(root).toAbsolutePath
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  private val decisionCols = Seq("image_id", "best_match_id", "best_score",
    "matching_fields", "differing_fields", "confidence", "top_matches",
    "cluster_id", "decision", "is_recurring")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.select(decisionCols.map(col): _*).collect().map(_.toSeq).toSet

  test("probe == append's decisions for the batch; root bytes untouched") {
    val root = "target/probe-spec"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 480).toDF()
    val cut = f"img-${400}%010d"
    val old = all.where(col("image_id") < cut)
    val neu = all.where(col("image_id") >= cut)

    // two byte-identical rows UNSEEN in the corpus: the second must match
    // the first — probe rows see each other, like sequential requests
    val uniqueCap = "zyqqat florblex umbrine quavitol dresken marlowex vintagra koomzel"
    val seed = neu.orderBy("image_id").limit(1)
      .withColumn("caption", lit(uniqueCap))
      .withColumn("phash", lit(0x5AC3F00D12345678L))
    val p1 = seed.withColumn("image_id", lit("img-zzzzzz0001"))
    val p2 = seed.withColumn("image_id", lit("img-zzzzzz0002"))
    val batch = neu.unionByName(p1).unionByName(p2)

    Dedup.runCheckpointed(spark, old, root, DedupConfig.default)
    Incremental.ensureIndexes(spark, root)

    val before = snapshot(root)
    val probe = Probe.run(spark, root, batch)
    val probed = rows(probe.decisions)
    val probedLowQ = probe.lowQuality.select("image_id").collect().map(_.getString(0)).toSet
    val outcomes = probe.outcomes.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the cohort with no driver budget falls back to the distributed
    // generators; the answer is the same
    val probedFallback = rows(Probe.run(spark, root, batch,
      DedupConfig.default.copy(driverBudget = 0)).decisions)
    assert(snapshot(root) == before, "probe mutated the root")

    // within-batch duplicate: p2's best match is p1, and it blocks
    val d2 = probe.decisions.where(col("image_id") === "img-zzzzzz0002")
      .select("decision", "best_match_id").collect()
    assert(d2.length == 1 && d2(0).getString(0) == "blocked"
      && d2(0).getString(1) == "img-zzzzzz0001", d2.mkString)

    // outcomes covers every input row exactly once
    assert(outcomes.size == batch.count())
    assert(outcomes("img-zzzzzz0002") == "blocked")

    val inc = Incremental.append(spark, root, batch, "1", DedupConfig.default)
    val appended = rows(inc.decisions.where(col("batch") === "1").drop("batch"))
    assert(probed == appended, {
      val a = (probed -- appended).take(3); val b = (appended -- probed).take(3)
      s"probe-only=$a append-only=$b"
    })
    assert(probedFallback == appended, {
      val a = (probedFallback -- appended).take(3); val b = (appended -- probedFallback).take(3)
      s"fallback-probe-only=$a append-only=$b"
    })
    val appLowQ = Layout.read(spark, root, "low_quality")
      .where(col("batch") === "1")
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(probedLowQ == appLowQ)
  }

  test("probe composes with persisted QA overrides (force-link before probe)") {
    val root = "target/probe-spec-qa"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 300).toDF()

    val res = Dedup.runCheckpointed(spark, all, root, DedupConfig.default)
    val byCluster = res.clusters.collect()
      .map(r => r.getString(0) -> r.getString(1)).groupBy(_._2)
    val reps = byCluster.keys.toSeq.sorted.take(2)
    val (a, b) = (reps(0), reps(1))
    graft.qa.Qa.reclassify(spark, root, a, b, "link")
    val labA = Layout.read(spark, root, "clusters")
      .where(col("image_id") === a).select("cluster_id").head().getString(0)
    val labB = Layout.read(spark, root, "clusters")
      .where(col("image_id") === b).select("cluster_id").head().getString(0)
    assert(labA == labB, "force-link did not merge the clusters")

    // an exact duplicate of `a` probes into the MERGED cluster
    val batch = all.where(col("image_id") === a)
      .withColumn("image_id", lit("img-zzzzzz0009"))
    Incremental.ensureIndexes(spark, root)
    val probe = Probe.run(spark, root, batch)
    val probed = rows(probe.decisions)
    val d = probe.decisions.where(col("image_id") === "img-zzzzzz0009")
      .select("decision", "cluster_id").head()
    assert(d.getString(0) == "blocked" && d.getString(1) == labA, d.toString)

    // append takes the override slow path (full re-derivation); the probe's
    // quotient path must still match it row for row
    val inc = Incremental.append(spark, root, batch, "1", DedupConfig.default)
    val appended = rows(inc.decisions
      .where(col("image_id") === "img-zzzzzz0009").drop("batch"))
    assert(probed.filter(_.head == "img-zzzzzz0009") == appended)
  }

  test("probe fails fast on pending (unrefreshed) QA overrides") {
    val root = "target/probe-spec-pending"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 200).toDF()
    val res = Dedup.runCheckpointed(spark, all, root, DedupConfig.default)
    val ids = res.clusters.select("image_id").limit(2).collect().map(_.getString(0))
    val batch = all.where(col("image_id") === ids(0))
      .withColumn("image_id", lit("img-zzzzzz0003"))

    graft.qa.Qa.forceLink(spark, root, ids(0), ids(1)) // recorded, NOT refreshed
    val e = intercept[IllegalStateException](Probe.run(spark, root, batch))
    assert(e.getMessage.contains("refreshGlobal"))

    graft.qa.Qa.refreshGlobal(spark, root, DedupConfig.default)
    assert(Probe.run(spark, root, batch).outcomes.count() == 1)
  }

  test("probe → refresh → probe: a cached serving context must not serve pre-override labels") {
    // ADVICE r5 (high): refreshGlobal rewrites clusters with an UNCHANGED
    // row count / file count / schema, so a content-only manifest stamp
    // round-trips byte-identical and a cached context would keep serving
    // pre-override cluster labels. The manifest's per-write version token
    // is the fix; this is its regression net.
    val root = "target/probe-spec-refresh"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 300).toDF()
    val res = Dedup.runCheckpointed(spark, all, root, DedupConfig.default)
    val reps = res.clusters.collect().map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._2).keys.toSeq.sorted.take(2)
    val (a, b) = (reps(0), reps(1))
    // duplicate of b, the LARGER rep: its label changes (b → a) on merge,
    // so a stale context is distinguishable from a fresh one
    val batch = all.where(col("image_id") === b)
      .withColumn("image_id", lit("img-zzzzzz0011"))
    Incremental.ensureIndexes(spark, root)

    // probe once: the serving context for this root is now cached
    val before = Probe.run(spark, root, batch).decisions
      .where(col("image_id") === "img-zzzzzz0011")
      .select("cluster_id").head().getString(0)
    assert(before == b)

    // merge a's cluster with b's through QA, refresh, probe again: the
    // cached context must detect the clusters rewrite and serve the merged
    // label (min of the two reps)
    graft.qa.Qa.reclassify(spark, root, a, b, "link")
    val after = Probe.run(spark, root, batch).decisions
      .where(col("image_id") === "img-zzzzzz0011")
      .select("cluster_id").head().getString(0)
    val merged = Layout.read(spark, root, "clusters")
      .where(col("image_id") === a).select("cluster_id").head().getString(0)
    assert(after == merged && merged == Seq(a, b).min,
      s"stale serving context: probe saw $after, clusters table says $merged")
  }

  test("probe composes with promote rep-overrides (incl. a merge through the probe row)") {
    val root = "target/probe-spec-promote"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 400).toDF()
    val res = Dedup.runCheckpointed(spark, all, root, DedupConfig.default)

    import spark.implicits._
    val c0 = res.clusters.as[(String, String)].collect().toMap
    val bySize = c0.toSeq.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
      .filter(_._2.size >= 2).toSeq.sortBy(_._1)
    assert(bySize.size >= 2, "need two multi-member clusters")
    val (lab1, mem1) = bySize(0)
    val (lab2, mem2) = bySize(1)
    // promote a NON-min member of cluster 1 (min-id labeling never picks it)
    val anchor = mem1.toSeq.sorted.apply(1)
    graft.qa.Qa.promote(spark, root, anchor)
    graft.qa.Qa.refreshGlobal(spark, root, DedupConfig.default)

    // bridge row: caption/meta of a cluster-1 member (content edge) + the
    // phash of a cluster-2 member (passes_image edge) — the probe's quotient
    // CC must merge both clusters and the anchor re-map must keep the
    // promoted id as the merged label
    val aRow = mem1.toSeq.sorted.head
    val cPhash = all.where(col("image_id") === mem2.toSeq.sorted.head)
      .select("phash").head().getLong(0)
    val bridge = all.where(col("image_id") === aRow)
      .withColumn("image_id", lit("img-zzzzzz0007"))
      .withColumn("phash", lit(cPhash))

    val probe = Probe.run(spark, root, bridge)
    val d = probe.decisions.where(col("image_id") === "img-zzzzzz0007")
      .select("cluster_id", "decision").head()
    assert(d.getString(0) == anchor,
      s"merged cluster must keep the promoted anchor, got ${d.getString(0)}")
    assert(d.getString(1) == "blocked")

    // byte parity with what an append of the same batch writes
    val probed = rows(probe.decisions)
    val inc = Incremental.append(spark, root, bridge, "1", DedupConfig.default)
    val appended = rows(inc.decisions.where(col("batch") === "1").drop("batch"))
    assert(probed == appended, {
      val a = (probed -- appended).take(3); val b = (appended -- probed).take(3)
      s"probe-only=$a append-only=$b"
    })
    // and the append's full table agrees the merge kept the anchor
    val c1 = Layout.read(spark, root, "clusters").as[(String, String)].collect().toMap
    assert((mem1 ++ mem2 + "img-zzzzzz0007").forall(m => c1(m) == anchor))
  }

  test("a null phash in a probe batch degrades to no phash candidates") {
    val root = "target/probe-spec-nullphash"
    deleteRec(Paths.get(root))
    val all = Synth.corpus(spark, 200).toDF()
    val cut = f"img-${180}%010d"
    Dedup.runCheckpointed(spark, all.where(col("image_id") < cut), root,
      DedupConfig.default)
    Incremental.ensureIndexes(spark, root)
    // one row of the batch has a null phash: it must still get a decision,
    // and the rest of the batch must be served as usual
    val neu = all.where(col("image_id") >= cut)
    val nullId = neu.agg(min("image_id")).head().getString(0)
    val batch = neu.withColumn("phash",
      when(col("image_id") === nullId, lit(null).cast("long")).otherwise(col("phash")))

    val probe = Probe.run(spark, root, batch)
    assert(probe.outcomes.count() == batch.count())
    val probed = rows(probe.decisions)
    assert(probed.exists(_.head == nullId) ||
      probe.lowQuality.where(col("image_id") === nullId).count() == 1)
    // and an append of the same batch agrees row for row
    val inc = Incremental.append(spark, root, batch, "1", DedupConfig.default)
    val appended = rows(inc.decisions.where(col("batch") === "1").drop("batch"))
    assert(probed == appended, {
      val a = (probed -- appended).take(3); val b = (appended -- probed).take(3)
      s"probe-only=$a append-only=$b"
    })
  }

  test("pipeline_probe driver query: one outcome per held-out row") {
    val out = graft.queries.Engine.pipelineProbe(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 50, s"expected the 5% held-out slice, got ${out.length}")
    val outcomes = out.map(_.getString(1)).toSet
    assert(outcomes.subsetOf(Set("low_quality", "blocked", "duplicate", "new")),
      outcomes.mkString(","))
    // the synthetic corpus plants duplicates across the whole id range, so a
    // probe of its tail must actually match some of them against the corpus
    assert(out.exists(r => r.getString(1) == "blocked" || r.getString(1) == "duplicate"))
  }
}
