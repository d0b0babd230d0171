package graft.qa

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.tables.Layout
import graft.{Dedup, DedupResult}

/**
 * Human-in-the-loop mutations over a checkpointed root — the reference's QA
 * triage surface (`app/api/qa_interface.py`): approve/reject rows in the
 * low-quality queue (`:56-176`, status Pending→Approved/Rejected on
 * `migrations/schema.sql:78-85`) and promote/reclassify duplicate links
 * (`:180-294`).
 *
 * Two primitives:
 *  - row mutations ride `Layout.mergeStage` (partition-scoped copy-on-write
 *    MERGE — the Iceberg `MERGE INTO` analog);
 *  - link mutations are an append-only `_overrides` edge table (force-link /
 *    force-split) applied to the verified edge set before EVERY connected-
 *    components derivation — batch, incremental, and refresh alike — so an
 *    override survives subsequent appends instead of being washed away by
 *    the next re-derivation.
 *
 * A force-split removes the DIRECT edge only; its endpoints stay clustered
 * when another verified path connects them (standard CC semantics — the
 * reference's reclassify has the same property via parent unlink). Decisions'
 * best_match/score reflect MEASURED similarity; override links surface
 * through cluster membership (cluster_id, is_recurring), mirroring the
 * reference where promote rewrites the parent chain, not the match score.
 *
 * An approved row joins the cluster space immediately (as a singleton if it
 * was quarantined before candidate generation). Full candidate hydration for
 * approved rows is the standard stage-invalidation path: drop the
 * `candidates` + `verified` manifests and the next checkpointed run
 * recomputes them over the full clean set (ResumeSpec's kill-a-stage
 * semantics) — at QA rates, batching that nightly is the intended shape.
 */
object Qa {

  val OverridesTable = "_overrides"
  val Pending = "Pending"
  val Approved = "Approved"
  val Rejected = "Rejected"

  // ---- override edges ------------------------------------------------------

  /** Read the override edge set: (src, dst, action, seq), src < dst. */
  def readOverrides(spark: SparkSession, root: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$OverridesTable")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else Some(spark.read.parquet(s"$root/$OverridesTable"))
  }

  /** Append one override; `action` is "link", "split" (pair edges) or
    * "promote" (a single-id rep override, stored as src = dst = id). Pair
    * orientation is normalized to src < dst (the edge set's invariant).
    * Later overrides for the same pair win (monotonic `seq`).
    *
    * SINGLE-WRITER CONTRACT: QA mutations on one root must come from one
    * writer loop (the reference's QA API is one service). The seq
    * assignment is read-modify-write — two interleaved writers could mint
    * the same seq, making "last override wins" ambiguous. The max-seq
    * marker written here is what `maxOverrideSeq` reads, so the serving
    * path never pays a Spark aggregation job per probe for it. */
  def addOverride(spark: SparkSession, root: String,
      a: String, b: String, action: String): Unit = {
    require(action == "link" || action == "split" || action == "promote",
      s"unknown action '$action'")
    require(action == "promote" || a != b, "override endpoints must differ")
    import spark.implicits._
    val seq = maxOverrideSeq(spark, root) + 1L
    // marker first: a crash before the append over-reports the max seq
    // (safe), never under-reports it (a re-minted seq, a bypassed guard)
    Layout.markerWrite(maxSeqPath(root), seq.toString)
    Seq((math.Ordering[String].min(a, b), math.Ordering[String].max(a, b), action, seq))
      .toDF("src", "dst", "action", "seq")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/$OverridesTable")
  }

  def forceLink(spark: SparkSession, root: String, a: String, b: String): Unit =
    addOverride(spark, root, a, b, "link")

  def forceSplit(spark: SparkSession, root: String, a: String, b: String): Unit =
    addOverride(spark, root, a, b, "split")

  /** Promote `id` to canonical representative of whatever cluster it lands
    * in — the reference's promote_duplicate (`app/api/qa_interface.py:179-228`,
    * where QA swaps which member anchors a duplicate group). The graft's
    * cluster label is min-id by construction; a promote row re-anchors the
    * label to `id` AFTER connected-components derivation (`applyPromotes`),
    * so membership is untouched and only the canonical name changes. The
    * latest promote (by seq) inside one final cluster wins. */
  def promote(spark: SparkSession, root: String, id: String): Unit =
    addOverride(spark, root, id, id, "promote")

  /** Apply the root's overrides to an edge set (src, dst, match_score):
    * drop force-split pairs, add force-link pairs at score 1.0 (deduped
    * against measured edges — max score wins). Last override per pair wins.
    * Promote rows are rep overrides, not edges — they apply after CC via
    * `applyPromotes`. The override table is QA-scale and broadcasts. */
  def applyOverrides(spark: SparkSession, root: String, edges: DataFrame): DataFrame =
    readOverrides(spark, root) match {
      case None => edges
      case Some(ov) =>
        val last = ov.where(col("action") =!= "promote")
          .groupBy(col("src"), col("dst"))
          .agg(max(struct(col("seq"), col("action"))).as("l"))
          .select(col("src"), col("dst"), col("l.action").as("action"))
        val splits = last.where(col("action") === "split").select("src", "dst")
        val links = last.where(col("action") === "link")
          .select(col("src"), col("dst"), lit(1.0).as("match_score"))
        edges.join(broadcast(splits), Seq("src", "dst"), "left_anti")
          .unionByName(links)
          .groupBy(col("src"), col("dst"))
          .agg(max(col("match_score")).as("match_score"))
    }

  /** The root's promote rows as (pid, pseq), or None when none exist. */
  private def promotes(spark: SparkSession, root: String): Option[DataFrame] =
    readOverrides(spark, root).flatMap { ov =>
      val pr = ov.where(col("action") === "promote")
        .select(col("src").as("pid"), col("seq").as("pseq"))
      // QA-scale table: a driver-side emptiness probe here keeps the two
      // anchor joins out of EVERY clusters derivation on promote-free roots
      if (pr.isEmpty) None else Some(pr)
    }

  /** Re-anchor cluster labels to their promoted member (latest promote per
    * FINAL cluster wins). Runs after every CC label derivation that persists
    * `clusters` — batch, incremental slow path, and refresh — so decisions /
    * recurring / metrics all see the promoted label. Membership is a pure
    * rename: no edges change, so counts and groupings are untouched. The
    * anchor map is promote-scale and broadcasts; the labels table is only
    * scanned once. */
  def applyPromotes(spark: SparkSession, root: String, labels: DataFrame): DataFrame =
    promotes(spark, root) match {
      case None => labels
      case Some(pr) =>
        val anchors = labels.join(broadcast(pr), col("image_id") === col("pid"))
          .groupBy(col("cluster_id"))
          .agg(max(struct(col("pseq"), col("pid"))).as("m"))
          .select(col("cluster_id"), col("m.pid").as("__anchor"))
        labels.join(broadcast(anchors), Seq("cluster_id"), "left")
          .select(col("image_id"),
            coalesce(col("__anchor"), col("cluster_id")).as("cluster_id"))
    }

  /**
   * Promote anchoring for a QUOTIENT labeling (Probe's read-only path):
   * `qLabels` (id, cluster_id) covers only touched super-nodes + new ids —
   * not full membership — so a promoted id's FINAL label is found by
   * composing its stored label (clustersPrev) through the quotient labels,
   * then the anchor re-map applies to the quotient rows. Untouched clusters
   * already carry their anchored label in the persisted table (the pending-
   * overrides guard in Probe.run enforces that precondition).
   */
  def anchorQuotient(spark: SparkSession, root: String, qLabels: DataFrame,
      clustersPrev: DataFrame): DataFrame =
    promotes(spark, root) match {
      case None => qLabels
      case Some(pr) =>
        val stored = clustersPrev.join(broadcast(pr), col("image_id") === col("pid"))
          .select(col("pid"), col("pseq"), col("cluster_id").as("lbl0"))
        val fin = stored.join(
            qLabels.select(col("id").as("lbl0"), col("cluster_id").as("lbl1")),
            Seq("lbl0"), "left")
          .select(col("pid"), col("pseq"),
            coalesce(col("lbl1"), col("lbl0")).as("lblf"))
        val anchors = fin.groupBy(col("lblf"))
          .agg(max(struct(col("pseq"), col("pid"))).as("m"))
          .select(col("lblf").as("cluster_id"), col("m.pid").as("__anchor"))
        qLabels.join(broadcast(anchors), Seq("cluster_id"), "left")
          .select(col("id"),
            coalesce(col("__anchor"), col("cluster_id")).as("cluster_id"))
    }

  // ---- override bookkeeping (which derivation reflects what) ---------------

  private def appliedSeqPath(root: String) = s"$root/_overrides_applied"
  private def maxSeqPath(root: String) = s"$root/_overrides_max"

  /** Highest override seq recorded, or -1 when the table doesn't exist.
    * Served from the marker `addOverride` maintains — Probe.run consults
    * this before EVERY serving call, and the aggregation-job form was a
    * recurring driver-job tax on the latency path (ADVICE r5). The Spark
    * aggregate remains only as the fallback for roots written by older
    * builds whose marker is absent. */
  def maxOverrideSeq(spark: SparkSession, root: String): Long =
    Layout.markerRead(maxSeqPath(root)).map(_.trim.toLong).getOrElse(
      readOverrides(spark, root)
        .map(_.agg(max("seq")).head().getLong(0)).getOrElse(-1L))

  /** Stamp the root: its persisted global stages reflect overrides up to
    * `seq`. Written by every path that re-derives clusters with overrides
    * applied (batch, incremental slow path, refreshGlobal). */
  private[graft] def recordOverridesApplied(root: String, seq: Long): Unit =
    Layout.markerWrite(appliedSeqPath(root), seq.toString)

  /** Overrides recorded but not yet reflected in the persisted clusters /
    * decisions (Qa.forceLink without a refresh). Read-only consumers of the
    * global stages (Probe) must refuse or refresh: their quotient math
    * composes with the PERSISTED labels, and a pending override would make
    * probe decisions diverge from what the next append writes. */
  def pendingOverrides(spark: SparkSession, root: String): Boolean =
    maxOverrideSeq(spark, root) !=
      Layout.markerRead(appliedSeqPath(root)).map(_.trim.toLong).getOrElse(-1L)

  // ---- row mutations -------------------------------------------------------

  /** Approve quarantined rows into the corpus: low_quality status →
    * Approved, features.is_low_quality → false, then re-derive the global
    * stages (the rows join clusters/decisions immediately). */
  def approve(spark: SparkSession, root: String, ids: Seq[String],
      cfg: DedupConfig = DedupConfig.default): DedupResult = {
    import spark.implicits._
    Layout.mergeStage(spark, root, "low_quality", Seq("image_id"))(
      ids.map((_, Approved)).toDF("image_id", "status"))
    Layout.mergeStage(spark, root, "features", Seq("image_id"))(
      ids.map((_, false)).toDF("image_id", "is_low_quality"))
    refreshGlobal(spark, root, cfg)
  }

  /** Reject stays in the queue with a terminal status (reference parity —
    * rejected rows never enter the corpus). No re-derivation needed. */
  def reject(spark: SparkSession, root: String, ids: Seq[String]): Long = {
    import spark.implicits._
    Layout.mergeStage(spark, root, "low_quality", Seq("image_id"))(
      ids.map((_, Rejected)).toDF("image_id", "status"))
  }

  /** Reclassify a pair (the reference's promote_duplicate / reclassify_bug):
    * record the override and re-derive the global stages. */
  def reclassify(spark: SparkSession, root: String, a: String, b: String,
      action: String, cfg: DedupConfig = DedupConfig.default): DedupResult = {
    addOverride(spark, root, a, b, action)
    refreshGlobal(spark, root, cfg)
  }

  /** Re-derive clusters / recurring / decisions / audit from the persisted
    * features + verified stages with overrides applied — the same global
    * step every incremental append runs (`Incremental.append` step 4). */
  def refreshGlobal(spark: SparkSession, root: String,
      cfg: DedupConfig = DedupConfig.default): DedupResult = {
    val feats = Layout.read(spark, root, "features")
    val clean = feats.where(!col("is_low_quality"))
    val verifiedAll = Layout.read(spark, root, "verified")
    val candsAll = Layout.read(spark, root, "candidates")
    val lowQ = Layout.read(spark, root, "low_quality")
      .where(col("status") =!= Approved)

    Seq("clusters", "recurring", "decisions", "audit").foreach(Layout.invalidate(root, _))
    val ovSeq = maxOverrideSeq(spark, root)
    val edges = applyOverrides(spark, root,
      verifiedAll.where(col("is_edge")).select("src", "dst", "match_score"))
    val clusters = Layout.runStage(spark, root, "clusters")(
      applyPromotes(spark, root, ConnectedComponents.runAdaptive(
        clean.select(col("image_id").as("id")), edges, cfg.maxCcIterations,
        cfg.ccPointerJump)
        .select(col("id").as("image_id"), col("cluster_id"))))
    recordOverridesApplied(root, ovSeq)
    val recur = Layout.runStage(spark, root, "recurring")(
      Dedup.recurring(clusters, cfg))
    val decis = Layout.runStage(spark, root, "decisions")(
      Dedup.decisionsEnriched(clean, verifiedAll, clusters, recur, cfg))
    val audit = Layout.runStage(spark, root, "audit")(Dedup.auditLog(decis, cfg))
    Dedup.writeRunMetrics(spark, root, decis, lowQ, clusters)
    DedupResult(clean, lowQ, candsAll, verifiedAll, clusters, decis, recur, audit)
  }
}
