package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.metrics.Metrics
import graft.pairs.{Candidates, LocalCandidates, PairVerifier}
import graft.qa.Qa
import graft.quality.Quality
import graft.sig.Shingle
import graft.tables.Layout

/** All pipeline outputs (each a lazily-planned DataFrame). */
final case class DedupResult(
    features: DataFrame, // clean rows + norm/shingles/quality columns
    lowQuality: DataFrame, // quarantined rows + issues (triage queue analog)
    candidates: DataFrame, // (src, dst, source) from all four generators
    verified: DataFrame, // candidate pairs + exact measures + edge flags
    clusters: DataFrame, // (image_id, cluster_id) for every CLEAN row
    decisions: DataFrame, // per-row blocked/duplicate/new + best match +
    //                       top_matches (cfg.topK) + match details + is_recurring
    recurring: DataFrame, // cluster_id tagged Recurring (>= 1+minDups members)
    audit: DataFrame // per-decision audit rows with reasoning (schema.sql:126-154)
)

/**
 * The dedup pipeline — batch Spark re-architecture of the reference's
 * request-driven `DuplicateDetector.process_incoming_bug`
 * (`app/services/duplicate_detector.py:51-97`): the decision branches
 * (block / flag / create) become three filtered outputs of one verified-pairs
 * DataFrame instead of control flow (SURVEY.md §3.1).
 *
 * Stage graph (each arrow a shuffle boundary):
 *   input → quality split → feature projection (norm, shingles, phash)
 *         → candidates: exact ∪ minhash-LSH ∪ simhash ∪ substring —
 *           placed once by a row gate (`candidatesPlaced`): a batch that
 *           fits the driver budget is one bounded collect of its key
 *           columns and the driver twins (`LocalCandidates`); a larger one
 *           runs the distributed generators (exact-group rep on exact_key,
 *           salted band joins, suffix join)
 *         → verify (hydrate ×2 + measures)
 *         → edges → connected components → clusters
 *         → decisions / recurring
 */
object Dedup {

  /** Clean-row feature projection. `bytes` is never touched — column pruning
    * keeps it out of every scan downstream of the input. */
  def features(input: DataFrame, cfg: DedupConfig): DataFrame =
    input
      .withColumn("issues", Quality.issuesCol(col("caption"), cfg))
      .withColumn("quality_score", Quality.scoreCol(col("issues")))
      .withColumn("quality_severity", Quality.severityCol(col("issues")))
      .withColumn("is_low_quality", Quality.isLowQualityCol(col("issues")))
      .withColumn("norm", Shingle.normalizeCol(col("caption")))
      .withColumn("shingles", Shingle.shingleHashesCol(col("caption"), cfg.shingleSize))
      .select("image_id", "w", "h", "fmt", "caption", "phash",
        "issues", "quality_score", "quality_severity", "is_low_quality",
        "norm", "shingles")

  /** The four generators as distributed Spark plans. */
  def candidates(clean: DataFrame, cfg: DedupConfig): DataFrame = {
    val repMap = Candidates.exactRepMap(clean)
    // rep ids are a thin id list — the join back to the feature table
    // broadcasts under the raised threshold, so selecting rep rows
    // costs no extra shuffle of the wide table
    val repIds = repMap.where(col("image_id") === col("rep")).select("image_id")
    val reps = clean.join(repIds, Seq("image_id"))
    Candidates.exactPairs(repMap)
      .unionByName(Candidates.minhashPairs(reps, cfg))
      .unionByName(Candidates.simhashPairs(clean, cfg))
      .unionByName(Candidates.substringPairs(clean, cfg))
  }

  /**
   * The candidates stage, placed once from a measured size (the
   * `ConnectedComponents.runAdaptive` pattern): one bounded
   * `limit(cap + 1)` collect of the clean key columns; when at most
   * `localRowCap` rows come back they run through the driver twins and the
   * stage is one LocalRelation, otherwise (or when the twins' pair count
   * passes the driver budget) `candidates` plans the distributed
   * generators. Same (src, dst, source) multiset either way
   * (CandidatesSpec). Returns the frame and its placement, "local" or
   * "distributed". The cap defaults to `LocalCandidates.rowCap(cfg)`; a cap
   * <= 0 skips the collect.
   */
  def candidatesPlaced(clean: DataFrame, cfg: DedupConfig,
      localRowCap: Option[Long] = None): (DataFrame, String) = {
    val cap = localRowCap.getOrElse(LocalCandidates.rowCap(cfg))
    val local =
      if (cap <= 0L) None
      else {
        // one partition under the limit: the collect is ONE job whose task
        // stops after cap + 1 rows (over many partitions a limit-collect
        // scans one, then a growing batch — a job each)
        val rows = clean.select(LocalCandidates.KeyCols.map(col): _*).coalesce(1)
          .limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
        if (rows.length > cap) None else LocalCandidates.candidates(rows.toSeq, cfg)
      }
    val spark = clean.sparkSession
    import spark.implicits._
    // columns named by the case class: a renaming Project over a large
    // LocalRelation would be evaluated row by row by the optimizer
    local.fold((candidates(clean, cfg), "distributed"))(c =>
      (spark.createDataset(c).toDF(), "local"))
  }

  def decisions(clean: DataFrame, edges: DataFrame, clusters: DataFrame,
      cfg: DedupConfig): DataFrame = {
    // a row's decision is driven by its best match among EARLIER rows
    // (src < dst lexicographically = arrival order), mirroring the
    // reference's incoming-vs-prior semantics. Best-of-group is a partial
    // aggregate, not a rank-1 window: min over struct(-score, src) orders
    // by score DESC then src ASC — same tie-break, but map-side combined,
    // so a dst with millions of edges never lands whole on one task.
    val best = edges
      .groupBy(col("dst"))
      .agg(min(struct((-col("match_score")).as("ns"), col("src").as("s"))).as("b"))
      .select(col("dst").as("image_id"), col("b.s").as("best_match_id"),
        (-col("b.ns")).as("best_score"))
    clean.select("image_id")
      .join(best, Seq("image_id"), "left")
      .join(clusters, Seq("image_id"), "left")
      .withColumn("decision",
        when(col("best_score") >= cfg.blockThreshold, "blocked")
          .when(col("best_score") >= cfg.flagThreshold, "duplicate")
          .otherwise("new"))
  }

  /**
   * Full decisions output: the decision rule above PLUS the reference's
   * candidate surface — `top_matches`, the per-row top-`cfg.topK` candidate
   * list (`app/services/similarity_engine.py:101-104`,
   * `duplicate_detector.py:77`), the best pair's match details
   * (`similarity_engine.py:235-321`), and the Recurring tag joined back onto
   * member rows (`duplicate_detector.py:315-347`).
   *
   * Hot-dst guard: a dst's verified-pair count is NOT bounded by the
   * generators (a container caption's rep collects one pair per member of
   * every contained caption; a rep in a hot band bucket collects one per
   * bucket mate per band), so a single rank window on dst would co-locate
   * an unbounded hot partition. The ranking is therefore two-phase salted
   * top-k: phase 1 ranks within (dst, salt-of-src) — any hot dst splits
   * across `DecisionSalts` tasks — and keeps k per cell; phase 2 ranks the
   * survivors, whose per-dst input is now <= k * DecisionSalts rows
   * (any global top-k row is a local top-k row of its cell, so the prune
   * is lossless). The phase-2 window's hash partitioning is reused by the
   * groupBy that follows, so best + top-k still come out of one exchange.
   * top_matches draws on ALL verified pairs (>= prefilter), not just edges —
   * the reference returns sub-threshold candidates for review too; the
   * DECISION itself is unaffected (non-edge pairs score < flagThreshold by
   * construction).
   */
  val DecisionSalts = 64

  def decisionsEnriched(clean: DataFrame, verified: DataFrame, clusters: DataFrame,
      recurring: DataFrame, cfg: DedupConfig): DataFrame = {
    val k = math.max(cfg.topK, 1)
    val order = Seq(col("match_score").desc, col("src").asc)
    val localW = Window.partitionBy(col("dst"), col("__salt")).orderBy(order: _*)
    val byDst = Window.partitionBy(col("dst")).orderBy(order: _*)
    val ranked = verified
      .select("src", "dst", "match_score", "matching_fields", "differing_fields", "confidence")
      .withColumn("__salt", pmod(xxhash64(col("src")), lit(DecisionSalts)).cast("int"))
      .withColumn("__lrn", row_number().over(localW))
      .where(col("__lrn") <= k)
      .drop("__salt", "__lrn")
      .withColumn("rn", row_number().over(byDst))
      .where(col("rn") <= k)
    val perRow = ranked.groupBy(col("dst").as("image_id")).agg(
      max(when(col("rn") === 1, struct(
        col("src").as("best_match_id"), col("match_score").as("best_score"),
        col("matching_fields"), col("differing_fields"), col("confidence")))).as("best"),
      transform(
        sort_array(collect_list(struct(col("rn"), col("src").as("match_id"),
          col("match_score").as("score")))),
        x => struct(x("match_id"), x("score"))).as("top_matches"))
    // checkpointed runs carry the input's batch partition through to the
    // decision row — it is the time axis of the decision timeline metrics
    val idCols =
      if (clean.columns.contains("batch")) Seq(col("image_id"), col("batch"))
      else Seq(col("image_id"))
    clean.select(idCols: _*)
      .join(perRow, Seq("image_id"), "left")
      .join(clusters, Seq("image_id"), "left")
      .select(idCols ++ Seq(
        col("best.best_match_id").as("best_match_id"),
        col("best.best_score").as("best_score"),
        col("best.matching_fields").as("matching_fields"),
        col("best.differing_fields").as("differing_fields"),
        col("best.confidence").as("confidence"),
        col("top_matches"), col("cluster_id")): _*)
      .withColumn("decision",
        when(col("best_score") >= cfg.blockThreshold, "blocked")
          .when(col("best_score") >= cfg.flagThreshold, "duplicate")
          .otherwise("new"))
      .join(recurring.select(col("cluster_id"), lit(true).as("is_recurring")),
        Seq("cluster_id"), "left")
      .withColumn("is_recurring", coalesce(col("is_recurring"), lit(false)))
  }

  /** Audit-shaped table (reference `migrations/schema.sql:126-154`,
    * `duplicate_detector.py:177-208`): one row per decision with the score,
    * the evidence fields, and a human-readable reasoning string. */
  def auditLog(enriched: DataFrame, cfg: DedupConfig): DataFrame =
    enriched.select(
      col("image_id"), col("decision"), col("best_match_id"),
      col("best_score"), col("confidence"),
      col("matching_fields"), col("differing_fields"),
      col("cluster_id"), col("is_recurring"),
      when(col("decision") === "blocked",
        concat(lit("blocked: score "), round(col("best_score"), 4).cast("string"),
          lit(s" >= ${cfg.blockThreshold} vs "), col("best_match_id")))
        .when(col("decision") === "duplicate",
          concat(lit("flagged duplicate: score "), round(col("best_score"), 4).cast("string"),
            lit(s" >= ${cfg.flagThreshold} vs "), col("best_match_id")))
        .otherwise(lit(s"new: no prior match >= ${cfg.flagThreshold}"))
        .as("reasoning"))

  /**
   * Append-only per-event duplicate history (reference `duplicate_history`,
   * `migrations/schema.sql:95-119`: match_method, was_blocked, detected_at —
   * a queryable event log SEPARATE from the audit table): one row per
   * non-new decision EVENT, written once per batch and never rewritten.
   * Append-only is consistent here because arrival order makes edges point
   * old→new (src < dst): a later batch can never change an earlier row's
   * best match, so an event, once recorded, is final. `batch` is the
   * schema's time axis; `detected_at` stamps processing wall-clock.
   */
  def duplicateHistory(decis: DataFrame, verified: DataFrame): DataFrame = {
    val method = verified.select(col("src").as("best_match_id"), col("dst").as("image_id"),
      array_join(col("sources"), "+").as("match_method"))
    val batchCol =
      if (decis.columns.contains("batch")) col("batch") else lit(BaseBatch).as("batch")
    decis.where(col("decision") =!= "new")
      .select(col("image_id"), col("best_match_id"), col("best_score"),
        (col("decision") === "blocked").as("was_blocked"), batchCol)
      .join(method, Seq("image_id", "best_match_id"), "left")
      .withColumn("detected_at", current_timestamp())
  }

  def recurring(clusters: DataFrame, cfg: DedupConfig): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("members"))
      .where(col("members") >= cfg.recurringMinDuplicates + 1)
      .withColumn("tag", lit("Recurring"))

  /** In-memory run (tests, small inputs). */
  def run(spark: SparkSession, input: DataFrame, cfg: DedupConfig = DedupConfig.default): DedupResult = {
    val feats = features(input, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    // fill the cache one task per partition: the candidates gate's bounded
    // collect runs in ONE task and would otherwise project every feature
    feats.count()
    val clean = feats.where(!col("is_low_quality"))
    val lowQ = feats.where(col("is_low_quality"))
      .select("image_id", "caption", "issues", "quality_score", "quality_severity")
      .withColumn("status", lit(graft.qa.Qa.Pending))

    val (cands, _) = candidatesPlaced(clean, cfg)
    val verified = PairVerifier.verify(cands, clean, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = verified.where(col("is_edge")).select("src", "dst", "match_score")

    val clusters = ConnectedComponents.runAdaptive(
      clean.select(col("image_id").as("id")), edges, cfg.maxCcIterations,
        cfg.ccPointerJump)
      .select(col("id").as("image_id"), col("cluster_id"))

    val recur = recurring(clusters, cfg)
    val decis = decisionsEnriched(clean, verified, clusters, recur, cfg)
    DedupResult(clean, lowQ, cands, verified, clusters, decis, recur,
      auditLog(decis, cfg))
  }

  /** The batch value the initial full run writes its partitions under. */
  val BaseBatch = "0"

  /**
   * Checkpointed, resumable run: every stage is persisted as an
   * Iceberg-layout table under `root`; a re-run skips stages whose manifest
   * exists (kill-and-restart resumes at the first incomplete stage), and
   * lineage + metrics rows are recorded per stage.
   *
   * Row-level stages (features / low_quality / candidates / verified) are
   * PARTITIONED by `batch` so `Incremental.append` can later add an input
   * partition and recompute only the affected slices (per-partition
   * manifest entries — see Layout). The full run writes batch "0".
   *
   * Job economy: one write job per stage (row counts observed on the write
   * itself; AQE adds one job per shuffle stage in the compute), each stage
   * handed downstream as a read of its files with the manifest schema (zero
   * jobs), run-level metrics from manifest counts (zero jobs), decision
   * counts one groupBy job, lineage flushed once. The candidates stage of a
   * batch under the driver gate is two jobs, its bounded key collect and
   * the write of one LocalRelation; above the gate the distributed
   * generators cost about 35.
   */
  def runCheckpointed(spark: SparkSession, input: DataFrame, root: String,
      cfg: DedupConfig = DedupConfig.default): DedupResult = {
    val batchCol = Seq("batch")
    val base = Some(BaseBatch)
    val feats = Layout.runStage(spark, root, "features", batchCol, base)(
      features(input, cfg).withColumn("batch", lit(BaseBatch)))
    val clean = feats.where(!col("is_low_quality"))
    val lowQ = Layout.runStage(spark, root, "low_quality", batchCol, base)(
      feats.where(col("is_low_quality"))
        .select("image_id", "caption", "issues", "quality_score", "quality_severity", "batch")
        // triage status (reference schema.sql:78-85) — flipped by Qa.approve
        // and Qa.reject through Layout.mergeStage
        .withColumn("status", lit(graft.qa.Qa.Pending)))

    // set only when this run computes the stage (a resumed run skips it)
    var placement: Option[String] = None
    val cands = Layout.runStage(spark, root, "candidates", batchCol, base) {
      val (df, where) = candidatesPlaced(clean, cfg)
      placement = Some(where)
      df.withColumn("batch", lit(BaseBatch))
    }
    val verified = Layout.runStage(spark, root, "verified", batchCol, base)(
      PairVerifier.verify(cands, clean, cfg).withColumn("batch", lit(BaseBatch)))
    val (clusters, recur, decis, audit) = deriveGlobal(spark, root, clean, verified, cfg)
    Layout.runStage(spark, root, "duplicate_history", batchCol, base)(
      duplicateHistory(decis, verified))

    writeRunMetrics(spark, root, decis, lowQ, clusters, placement.map(p => (p,
      Layout.manifestRows(root, "features") - Layout.manifestRows(root, "low_quality"))))
    DedupResult(clean, lowQ, cands, verified, clusters, decis, recur, audit)
  }

  /**
   * The global stages over the full edge set — clusters, recurring,
   * decisions, audit — as the pipeline, append's slow path and
   * `Qa.refreshGlobal` all derive them: QA overrides (force-link/split)
   * applied to `verified`'s edges so a human decision survives re-runs,
   * connected components, promotes re-anchoring the labels (see
   * graft.qa.Qa), then the stages that read the labels. Each stage is a
   * `Layout.runStage`, so a stage whose manifest exists is read back.
   *
   * The applied-seq stamp moves only when this call computes `clusters`: a
   * resumed run skips the stage, so stamping it would falsely claim
   * overrides added since are reflected (Probe keys off the stamp). Callers
   * that invalidate the four stages first always stamp.
   */
  def deriveGlobal(spark: SparkSession, root: String, clean: DataFrame,
      verified: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ovSeq = Qa.maxOverrideSeq(spark, root)
    val edges = Qa.applyOverrides(spark, root,
      verified.where(col("is_edge")).select("src", "dst", "match_score"))
    val clustersWereComplete = Layout.isComplete(root, "clusters")
    val clusters = Layout.runStage(spark, root, "clusters")(
      Qa.applyPromotes(spark, root, ConnectedComponents.runAdaptive(
        clean.select(col("image_id").as("id")), edges, cfg.maxCcIterations,
        cfg.ccPointerJump)
        .select(col("id").as("image_id"), col("cluster_id"))))
    if (!clustersWereComplete) Qa.recordOverridesApplied(root, ovSeq)
    val recur = Layout.runStage(spark, root, "recurring")(recurring(clusters, cfg))
    val decis = Layout.runStage(spark, root, "decisions")(
      decisionsEnriched(clean, verified, clusters, recur, cfg))
    (clusters, recur, decis, Layout.runStage(spark, root, "audit")(auditLog(decis, cfg)))
  }

  /**
   * Run-level metrics appended to `_metrics`:
   *  - decision counts + `average_match_score` + the per-batch decision
   *    TIMELINE (reference `app/tasks.py:220-226` avg score and
   *    `app/api/monitoring.py:189-213` duplicates-over-time; the `batch`
   *    partition is the schema's time axis) — all riding ONE groupBy job;
   *  - quality-issue explode counts over the low-quality queue and the
   *    cluster-size histogram (`monitoring.py:216-258`, dashboards) — two
   *    small jobs over the stage files;
   *  - row counts and per-batch-partition rows straight from the stage
   *    manifests (no jobs), and — when this run computed candidates — their
   *    placement, `placement[local|distributed]`, valued with the clean
   *    rows it placed; then buffered lineage flushes in one append.
   */
  private[graft] def writeRunMetrics(spark: SparkSession, root: String,
      decis: DataFrame, lowQ: DataFrame, clusters: DataFrame,
      placement: Option[(String, Long)] = None): Unit = {
    val batchCol =
      if (decis.columns.contains("batch")) col("batch") else lit(BaseBatch)
    // ONE collect job for all three aggregate families (decision counts +
    // timeline + score sums, issue counts, cluster-size histogram) — a
    // long-format union; three separate collects were three driver syncs
    def pad(df: DataFrame) = df
      .withColumn("v2", lit(null).cast("double"))
      .withColumn("v3", lit(null).cast("double"))
    val decA = decis
      .groupBy(col("decision"), batchCol.cast("string").as("b"))
      .agg(count(lit(1)).cast("double").as("v1"),
        sum("best_score").as("v2"), count("best_score").cast("double").as("v3"))
      .select(lit("dec").as("fam"), col("decision").as("k1"), col("b").as("k2"),
        col("v1"), col("v2"), col("v3"))
    val issA = pad(Metrics.issueCounts(lowQ)
      .select(lit("issue").as("fam"), col("issue").as("k1"), lit("").as("k2"),
        col("cnt").cast("double").as("v1")))
    val histA = pad(Metrics.clusterSizeHistogram(clusters)
      .select(lit("hist").as("fam"), col("members").cast("string").as("k1"),
        lit("").as("k2"), col("clusters").cast("double").as("v1")))
    val all = decA.unionByName(issA).unionByName(histA).collect()

    val dec = all.filter(_.getString(0) == "dec")
    val decisionCounts = dec.groupBy(_.getString(1)).toSeq.map { case (d, rows) =>
      ("decisions", d, rows.map(_.getDouble(3)).sum)
    }
    val timeline = dec.toSeq.map { r =>
      ("decisions", s"${r.getString(1)}[batch=${r.getString(2)}]", r.getDouble(3))
    }
    val scoreN = dec.map(r => if (r.isNullAt(5)) 0.0 else r.getDouble(5)).sum
    val avgScore =
      if (scoreN == 0) Nil
      else {
        val s = dec.map(r => if (r.isNullAt(4)) 0.0 else r.getDouble(4)).sum
        Seq(("decisions", "average_match_score",
          math.round(s / scoreN * 10000.0) / 10000.0))
      }
    val issueRows = all.filter(_.getString(0) == "issue").toSeq
      .map(r => ("low_quality", s"issue[${r.getString(1)}]", r.getDouble(3)))
    val histRows = all.filter(_.getString(0) == "hist").toSeq
      .map(r => ("clusters", s"size[${r.getString(1)}]", r.getDouble(3)))
    val placementRow = placement.map { case (p, rows) =>
      ("candidates", s"placement[$p]", rows.toDouble)
    }
    Layout.appendMetrics(spark, root, placementRow.toSeq ++ Seq(
      ("candidates", "pairs", Layout.manifestRows(root, "candidates").toDouble),
      ("clusters", "rows", Layout.manifestRows(root, "clusters").toDouble)) ++
      Layout.partitionMetricRows(root, "features") ++
      Layout.partitionMetricRows(root, "candidates") ++
      Layout.partitionMetricRows(root, "verified") ++
      decisionCounts ++ timeline ++ avgScore ++ issueRows ++ histRows)
    Layout.flushLineage(spark, root)
  }
}
