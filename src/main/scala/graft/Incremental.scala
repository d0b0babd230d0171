package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.pairs.{Candidates, Cohort, LocalCandidates, PairVerifier}
import graft.sig.SuffixDup
import graft.tables.Layout

/**
 * Partition-level incremental append (SURVEY S4 / reference
 * `app/utils/vector_store.py:49-69` `add_bug` + north rule "checkpoints
 * per-Iceberg-partition"): add one input partition to a completed
 * `Dedup.runCheckpointed` root and recompute ONLY what the new rows touch.
 *
 * Candidates come from `Cohort.run`, the same matching engine `Probe.run`
 * serves with: the batch's key rows live on the driver, the index stages
 * below are scanned with the batch's keys (affected band buckets, phashes,
 * norms, suffix tiers) and the cohort rows come back to the driver, where
 * the `LocalCandidates` twins build only the pairs that touch the batch.
 * Past the driver budget the pairs come from the distributed generators
 * instead (`Dedup.candidatesPlaced`). The index stages:
 *
 *   rep_map        exact-group key → rep        (match new rows to groups)
 *   norm_map       caption norm → rep            (substring membership)
 *   banded         MinHash band keys of reps     (the LSH index)
 *   banded_simhash combo keys of distinct phash  (the image index)
 *   suffix_keys    (b_id, tier, k) suffix index  (the substring index)
 *
 * built lazily from the features checkpoint on first append
 * (`ensureIndexes`), then appended per batch like every row-level stage.
 *
 * Per-batch work: feature-extract new rows; run the cohort over the index
 * minus the batch's own partitions and write the batch's index rows and
 * candidates it returns; verify only pairs touching a new row. Global stages
 * (clusters / decisions / recurring / audit) are re-derived from the full
 * edge set — label closure is global by nature, and those stages cost
 * O(edges) + one window, not O(corpus²).
 *
 * Correctness contract (asserted by ResumeSpec): appending batch B to a
 * root built from batch A produces EXACTLY the outputs of a full run over
 * A ∪ B, provided ids in B sort after ids in A (arrival order — the same
 * assumption the decision rule already makes).
 */
object Incremental {

  private val IndexBatch = "idx0"

  /** Build the incremental index stages from an existing features
    * checkpoint if they are not present yet. */
  private val IndexStages =
    Seq("rep_map", "norm_map", "banded", "banded_simhash", "suffix_keys")

  def ensureIndexes(spark: SparkSession, root: String,
      cfg: DedupConfig = DedupConfig.default): Unit = {
    // steady-state fast path: after the first append every index manifest
    // exists, so skip the five runStage probes (each costs a parquet listing
    // + a lineage row) — five marker stats and out
    if (IndexStages.forall(Layout.isComplete(root, _))) return
    val feats = Layout.read(spark, root, "features")
    val clean = feats.where(!col("is_low_quality"))
    val batchCol = Seq("batch")
    val base = Some(IndexBatch)

    val repMap = Layout.runStage(spark, root, "rep_map", batchCol, base)(
      Candidates.exactRepMapFull(clean).withColumn("batch", lit(IndexBatch)))
    val normMap = Layout.runStage(spark, root, "norm_map", batchCol, base)(
      Candidates.normMap(clean).withColumn("batch", lit(IndexBatch)))

    Layout.runStage(spark, root, "banded", batchCol, base) {
      val repIds = repMap.where(col("image_id") === col("rep")).select("image_id")
      val reps = clean.join(repIds, Seq("image_id"))
      Candidates.minhashBanded(reps, cfg).withColumn("batch", lit(IndexBatch))
    }
    Layout.runStage(spark, root, "banded_simhash", batchCol, base) {
      val distinctPh = Candidates.phashRepMap(clean)
        .where(col("image_id") === col("prep"))
        .select(col("prep").as("id"), col("phash"))
      Candidates.simhashBanded(distinctPh, cfg).withColumn("batch", lit(IndexBatch))
    }
    Layout.runStage(spark, root, "suffix_keys", batchCol, base) {
      val nreps = normMap.where(col("image_id") === col("nrep"))
        .select(col("nrep").as("id"), col("norm"))
      SuffixDup.suffixEntries(nreps).select("b_id", "tier", "k")
        .withColumn("batch", lit(IndexBatch))
    }
    Layout.flushLineage(spark, root)
  }

  /** Keep only pairs that touch at least one id from `ids` (broadcast).
    * The final select restores the pairs' COLUMN ORDER: a USING-join moves
    * its key first, so after the dst join the frame is (dst, src, …) — a
    * downstream positional `union` would silently flip every pair, turning
    * src<dst arrival order on its head (a later row would block an earlier
    * one; caught by StreamingSpec's boundary pair). */
  private[graft] def pairsTouching(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs
      .join(broadcast(ids.select(col("id").as("src"), lit(true).as("sNew"))), Seq("src"), "left")
      .join(broadcast(ids.select(col("id").as("dst"), lit(true).as("dNew"))), Seq("dst"), "left")
      .where(col("sNew") || col("dNew"))
      .select(pairs.columns.toIndexedSeq.map(col): _*)

  /**
   * Append `newInput` as partition `batch` and bring every output stage up
   * to date. Returns the updated DedupResult over the full corpus.
   * `cohortBudget` is the cohort's driver budget (`Cohort.run`).
   */
  def append(spark: SparkSession, root: String, newInput: DataFrame, batch: String,
      cfg: DedupConfig = DedupConfig.default,
      cohortBudget: Long = ConnectedComponents.LocalEdgeCap): DedupResult = {
    require(batch != Dedup.BaseBatch && batch != IndexBatch, s"batch '$batch' is reserved")
    import spark.implicits._
    ensureIndexes(spark, root, cfg)
    val batchCol = Seq("batch")

    // ---- 1. row-local stages: only the new partition ----------------------
    Layout.runStagePartition(spark, root, "features", batchCol, batch)(
      Dedup.features(newInput, cfg).withColumn("batch", lit(batch)))
    val feats = Layout.read(spark, root, "features")
    val clean = feats.where(!col("is_low_quality"))
    val cleanNew = clean.where(col("batch") === batch)
    Layout.runStagePartition(spark, root, "low_quality", batchCol, batch)(
      feats.where(col("is_low_quality") && col("batch") === batch)
        .select("image_id", "caption", "issues", "quality_score", "quality_severity", "batch")
        .withColumn("status", lit(graft.qa.Qa.Pending)))

    // ---- 2. the cohort: the batch against the index of prior rows ---------
    // The batch's key rows collect ONCE into a LocalRelation, and the index
    // frames exclude the batch's own partitions, so a re-run after a crash
    // sees exactly what the first attempt saw. The cohort returns the
    // batch's candidates and its rows of the five index stages; each is
    // written as one partition.
    val keyRows = {
      val proj = cleanNew.select(LocalCandidates.KeyCols.map(col): _*)
      spark.createDataFrame(java.util.Arrays.asList(proj.collect(): _*), proj.schema)
    }
    val newIdSeq = keyRows.collect().map(_.getString(0)).toSeq
    val newIds = newIdSeq.toDF("id")
    val cohort = Cohort.run(spark,
      Cohort.Index.of(Layout.read(spark, root, _).where(col("batch") =!= batch), cfg),
      keyRows, cfg, s"graft:cohort/$batch:", cohortBudget)
    def write(stage: String)(df: => DataFrame): DataFrame =
      Layout.runStagePartition(spark, root, stage, batchCol, batch)(
        df.withColumn("batch", lit(batch)))
    // the index rows are batch-sized: one file per partition
    def index(stage: String)(df: => DataFrame): Unit = write(stage)(df.coalesce(1))
    index("rep_map")(spark.createDataFrame(java.util.Arrays.asList(cohort.repMap: _*),
      keyRows.select((Seq("image_id") ++ Candidates.ExactKeyCols).map(col): _*).schema
        .add("rep", "string")))
    index("norm_map")(cohort.normMap.toDF("image_id", "norm", "nrep"))
    index("banded")(cohort.banded.toDF("id", "band", "bkey"))
    index("banded_simhash")(cohort.bandedSim.toDF("id", "band", "bkey"))
    index("suffix_keys")(cohort.suffixKeys.toDF("b_id", "tier", "k"))
    val candsAll = write("candidates")(cohort.candidates)

    // ---- 3. verify only the new pairs -------------------------------------
    // hydration slice: verify INNER-joins features on the pair endpoints,
    // so restricting the features side to candidate-involved ids is
    // lossless — and the full-corpus feature frame was otherwise BROADCAST
    // twice per epoch by the hydrate joins (the endpoint set is
    // batch-proportional: every pair touches the batch)
    val newCands = candsAll.where(col("batch") === batch)
    val endpointIds = newCands
      .select(explode(array(col("src"), col("dst"))).as("image_id")).distinct()
    Layout.runStagePartition(spark, root, "verified", batchCol, batch)(
      PairVerifier.verify(newCands,
        clean.join(broadcast(endpointIds), Seq("image_id")), cfg)
        .withColumn("batch", lit(batch)))
    val verifiedAll = Layout.read(spark, root, "verified")

    // ---- 4. global stages ------------------------------------------------
    // Fast path (no QA overrides): clusters and decisions are brought up to
    // date INCREMENTALLY — compute proportional to the new batch and the
    // components it touches, never to the corpus. Correct because arrival
    // order makes every new verified pair point old→new (src < dst, new ids
    // sort last): an old row can never gain an incoming edge, so its
    // best_match / top_matches / decision are FINAL — only cluster_id (two
    // old clusters bridged through a new row) and is_recurring (membership
    // counts grow) can change, and both are functions of the touched
    // components. Overrides need the full re-derivation: a force-split
    // removes edges, and cluster splits cannot be derived from the merged
    // assignment (merges compose, splits do not).
    val hasOverrides = graft.qa.Qa.readOverrides(spark, root).isDefined
    val canFast = !hasOverrides && Layout.isComplete(root, "clusters") &&
      Layout.isComplete(root, "decisions")
    val newEdges = verifiedAll
      .where(col("batch") === batch && col("is_edge"))
      .select("src", "dst", "match_score")

    val (clusters, recur, decis) = if (canFast) {
      // The quotient graph is batch-proportional BY CONSTRUCTION (edges
      // point old→new, old endpoints collapse to their cluster label), so
      // its CC is a driver union-find (`ConnectedComponents.runLocal`, the
      // same shape Probe serves with — pinned equal to the distributed
      // form by CcSpec): the per-round Spark jobs the distributed loop paid
      // here (join + agg + checkpoint + hash-sum, ~2 jobs x rounds, plus a
      // remap count job) collapse into one bounded collect. The collected
      // frames are exactly the ones this path already broadcast.
      val newIdSet = newIdSeq.toSet
      // crash-rerun guard: a prior attempt may have committed a clusters
      // table that already includes this batch — new rows are recomputed
      // below, so they must not also survive from the contaminated read
      val clustersPrev = Layout.read(spark, root, "clusters")
        .join(broadcast(newIds.select(col("id").as("image_id"))),
          Seq("image_id"), "left_anti")
      // quotient graph: old endpoints collapse to their current cluster
      // label (one super-node per touched component); only src can be old
      // (dst is always new). The big clusters table is only ever SCANNED
      // against broadcast new keys; the edge set and label slice are
      // batch-bounded, so they collect.
      val edgeRows = newEdges.select(col("src"), col("dst")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val srcIds = edgeRows.map(_._1).distinct.toSeq.toDF("src")
      val labMap = clustersPrev
        .join(broadcast(srcIds), col("image_id") === col("src"))
        .select(col("image_id"), col("cluster_id")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val qEdges = edgeRows.toSeq
        .map { case (s, d) => (labMap.getOrElse(s, s), d) }
      // union-find over super-nodes + new ids: labels are min member ids,
      // and old labels ARE min member ids, so min-label propagation over
      // the quotient yields exactly the full-graph labels (min composes)
      val qLabels = ConnectedComponents.runLocal(newIdSeq, qEdges)
      // old components whose label changed (a merge through a new row)
      val remapSeq = qLabels.toSeq
        .filter { case (id, lab) => !newIdSet.contains(id) && id != lab }
      val remap = remapSeq.toDF("__from", "__to")
      val newAssign = qLabels.toSeq.filter(kv => newIdSet.contains(kv._1))
        .toDF("image_id", "cluster_id")
      // observability + spec hook: record that the incremental global path
      // ran and how many existing clusters this batch merged away
      Layout.bufferLineage(root, s"global@incremental/$batch",
        remapSeq.size.toLong, 0.0, skipped = false)
      val clustersNext = clustersPrev
        .join(broadcast(remap), col("cluster_id") === col("__from"), "left")
        .select(col("image_id"),
          coalesce(col("__to"), col("cluster_id")).as("cluster_id"))
        .unionByName(newAssign)

      // old decision rows: best/top/decision final; refresh cluster_id via
      // the remap and re-derive is_recurring; new rows run the normal
      // enrichment over ONLY this batch's verified pairs (every pair with a
      // new dst lives in this batch's partition). Read before the
      // invalidation below, while the manifest still carries the schema.
      val decisPrev = Layout.read(spark, root, "decisions")
        .where(col("batch") =!= batch)
      Seq("clusters", "recurring", "decisions", "audit")
        .foreach(Layout.invalidate(root, _))
      // replace-swap writes: the successors read their predecessors' live
      // files for the whole write job (see Layout.runStageReplace — this
      // deletes the per-epoch eager localCheckpoint materialization passes
      // the in-place Overwrite forced)
      val clustersW = Layout.runStageReplace(spark, root, "clusters")(clustersNext)
      val recurW = Layout.runStage(spark, root, "recurring")(
        Dedup.recurring(clustersW, cfg))
      // recurring is the small side (clusters over the member threshold);
      // no broadcast hint — AQE converts when it fits, exactly as the full
      // path's recurring join behaves
      val recurFlag = recurW.select(col("cluster_id"), lit(true).as("__r"))
      val decisOld = decisPrev
        .drop("is_recurring")
        .join(broadcast(remap), col("cluster_id") === col("__from"), "left")
        .withColumn("cluster_id", coalesce(col("__to"), col("cluster_id")))
        .drop("__from", "__to")
        .join(recurFlag, Seq("cluster_id"), "left")
        .withColumn("is_recurring", coalesce(col("__r"), lit(false)))
        .drop("__r")
      // clusters arg is the BATCH's assignment slice, not the full table: a
      // left join of the small clean side against the corpus-sized clusters
      // table cannot broadcast (outer side) and would shuffle the corpus
      val decisNew = Dedup.decisionsEnriched(cleanNew,
        verifiedAll.where(col("batch") === batch), newAssign, recurW, cfg)
      val decisW = Layout.runStageReplace(spark, root, "decisions")(
        decisOld.unionByName(decisNew))
      (clustersW, recurW, decisW)
    } else {
      Seq("clusters", "recurring", "decisions", "audit")
        .foreach(Layout.invalidate(root, _))
      val ovSeq = graft.qa.Qa.maxOverrideSeq(spark, root)
      val edges = graft.qa.Qa.applyOverrides(spark, root,
        verifiedAll.where(col("is_edge")).select("src", "dst", "match_score"))
      val clustersW = Layout.runStage(spark, root, "clusters")(
        graft.qa.Qa.applyPromotes(spark, root, ConnectedComponents.runAdaptive(
          clean.select(col("image_id").as("id")), edges, cfg.maxCcIterations,
          cfg.ccPointerJump)
          .select(col("id").as("image_id"), col("cluster_id"))))
      graft.qa.Qa.recordOverridesApplied(root, ovSeq)
      val recurW = Layout.runStage(spark, root, "recurring")(
        Dedup.recurring(clustersW, cfg))
      val decisW = Layout.runStage(spark, root, "decisions")(
        Dedup.decisionsEnriched(clean, verifiedAll, clustersW, recurW, cfg))
      (clustersW, recurW, decisW)
    }
    val audit = Layout.runStage(spark, root, "audit")(Dedup.auditLog(decis, cfg))
    // event log: only THIS batch's events append (old rows' best matches
    // are stable — edges point old→new), never a rewrite
    Layout.runStagePartition(spark, root, "duplicate_history", batchCol, batch)(
      Dedup.duplicateHistory(decis.where(col("batch") === batch), verifiedAll))

    val lowQ = Layout.read(spark, root, "low_quality")
    Dedup.writeRunMetrics(spark, root, decis, lowQ, clusters,
      Some((cohort.placement, newIdSeq.size.toLong)))
    DedupResult(clean, lowQ, candsAll, verifiedAll, clusters, decis, recur, audit)
  }
}
