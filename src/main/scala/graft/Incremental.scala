package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.pairs.{Candidates, Cohort, LocalCandidates, PairVerifier}
import graft.sig.SuffixDup
import graft.tables.Layout
import graft.util.DriverRows

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
 * Past `cfg.driverBudget` the pairs come from the distributed generators
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
 * (clusters / decisions / recurring / audit): on a root without QA
 * overrides, `quotient` — the probe's CC step too — labels the batch
 * against the prior clusters, and only the touched components' labels and
 * the batch's decisions change; with overrides they are invalidated and
 * re-derived from the full edge set by `Dedup.deriveGlobal`, the
 * pipeline's own derivation (O(edges) + one window, not O(corpus²)).
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

  /** The batch's quotient CC (see `quotient`): the label of every touched
    * super-node and new id, the old labels a merge through a new row
    * changed (`remapped`), and the new rows' assignments (`image_id`,
    * `cluster_id`). */
  private[graft] final case class Quotient(labels: Seq[(String, String)],
      remapped: Seq[(String, String)], remap: DataFrame, assign: DataFrame) {
    /** `df` with each `cluster_id` a merge changed replaced by its new label. */
    def relabel(df: DataFrame): DataFrame =
      df.join(broadcast(remap), col("cluster_id") === col("__from"), "left")
        .withColumn("cluster_id", coalesce(col("__to"), col("cluster_id")))
        .drop("__from", "__to")
  }

  /**
   * Connected components of a batch over the prior clusters without
   * touching the corpus — append's fast path and the probe both run it.
   * Arrival order makes every new edge point old→new (src < dst, new ids
   * sort last), so an old source collapses to its cluster label in
   * `oldLabels` (one super-node per touched component; a source absent
   * from it is new, its own label) and the quotient graph is
   * batch-proportional by construction: a driver union-find
   * (`ConnectedComponents.runLocal`, pinned equal to the distributed form
   * by CcSpec). Labels are min member ids, and old labels ARE min member
   * ids, so min-label propagation over the quotient yields exactly the
   * full-graph labels (min composes). Promotes then re-anchor the touched
   * components' labels (`Qa.anchorQuotient`, identity on a promote-free
   * root, where the collect below is a driver copy).
   */
  private[graft] def quotient(spark: SparkSession, root: String, clustersPrev: DataFrame,
      newIds: Seq[String], edges: Seq[(String, String)],
      oldLabels: Map[String, String]): Quotient = {
    import spark.implicits._
    val isNew = newIds.toSet
    val cc = ConnectedComponents.runLocal(newIds,
      edges.map { case (s, d) => (oldLabels.getOrElse(s, s), d) })
    val labels = graft.qa.Qa.anchorQuotient(spark, root, cc.toSeq.toDF("id", "cluster_id"),
      clustersPrev).collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val remapped = labels.filter { case (id, lab) => !isNew(id) && id != lab }
    Quotient(labels, remapped, remapped.toDF("__from", "__to"),
      labels.filter(kv => isNew(kv._1)).toDF("image_id", "cluster_id"))
  }

  /**
   * Append `newInput` as partition `batch` and bring every output stage up
   * to date. Returns the updated DedupResult over the full corpus.
   */
  def append(spark: SparkSession, root: String, newInput: DataFrame, batch: String,
      cfg: DedupConfig = DedupConfig.default): DedupResult = {
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
    val keyProj = cleanNew.select(LocalCandidates.KeyCols.map(col): _*)
    val keyRowSeq = keyProj.collect().toSeq
    val keyRows = DriverRows.frame(spark, keyRowSeq, keyProj.schema)
    val newIdSeq = keyRowSeq.map(_.getString(0))
    val newIds = newIdSeq.toDF("id")
    val cohort = Cohort.run(spark,
      Cohort.Index.of(Layout.read(spark, root, _).where(col("batch") =!= batch), cfg),
      keyRows, cfg, s"graft:cohort/$batch:")
    def write(stage: String)(df: => DataFrame): DataFrame =
      Layout.runStagePartition(spark, root, stage, batchCol, batch)(
        df.withColumn("batch", lit(batch)))
    // the index rows are batch-sized: one file per partition
    def index(stage: String)(df: => DataFrame): Unit = write(stage)(df.coalesce(1))
    index("rep_map")(DriverRows.frame(spark, cohort.repMap,
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

    val (clusters, recur, decis, audit) = if (canFast) {
      // crash-rerun guard: a prior attempt may have committed a clusters
      // table that already includes this batch — new rows are recomputed
      // below, so they must not also survive from the contaminated read
      val clustersPrev = Layout.read(spark, root, "clusters")
        .join(broadcast(newIds.select(col("id").as("image_id"))),
          Seq("image_id"), "left_anti")
      // the big clusters table is only ever SCANNED with batch keys; the
      // edge set and its sources' labels are batch-bounded, so they collect
      val edgeRows = verifiedAll.where(col("batch") === batch && col("is_edge"))
        .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val labMap = Cohort.keyFiltered(clustersPrev, "image_id", edgeRows.map(_._1).distinct)
        .select("image_id", "cluster_id").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val q = quotient(spark, root, clustersPrev, newIdSeq, edgeRows, labMap)
      // observability + spec hook: record that the incremental global path
      // ran and how many existing clusters this batch merged away
      Layout.bufferLineage(root, s"global@incremental/$batch",
        q.remapped.size.toLong, 0.0, skipped = false)
      val clustersNext = q.relabel(clustersPrev).unionByName(q.assign)

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
      val decisOld = q.relabel(decisPrev.drop("is_recurring"))
        .join(recurFlag, Seq("cluster_id"), "left")
        .withColumn("is_recurring", coalesce(col("__r"), lit(false)))
        .drop("__r")
      // clusters arg is the BATCH's assignment slice, not the full table: a
      // left join of the small clean side against the corpus-sized clusters
      // table cannot broadcast (outer side) and would shuffle the corpus
      val decisNew = Dedup.decisionsEnriched(cleanNew,
        verifiedAll.where(col("batch") === batch), q.assign, recurW, cfg)
      val decisW = Layout.runStageReplace(spark, root, "decisions")(
        decisOld.unionByName(decisNew))
      (clustersW, recurW, decisW,
        Layout.runStage(spark, root, "audit")(Dedup.auditLog(decisW, cfg)))
    } else {
      Seq("clusters", "recurring", "decisions", "audit")
        .foreach(Layout.invalidate(root, _))
      Dedup.deriveGlobal(spark, root, clean, verifiedAll, cfg)
    }
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
