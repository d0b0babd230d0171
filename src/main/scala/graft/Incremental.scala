package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.pairs.{Candidates, PairVerifier}
import graft.sig.SuffixDup
import graft.tables.Layout

/**
 * Partition-level incremental append (SURVEY S4 / reference
 * `app/utils/vector_store.py:49-69` `add_bug` + north rule "checkpoints
 * per-Iceberg-partition"): add one input partition to a completed
 * `Dedup.runCheckpointed` root and recompute ONLY what the new rows touch.
 *
 * The trick everywhere is the same: never shuffle the existing corpus.
 * The new batch is small, so its keys broadcast; full-table sides are only
 * ever SCANNED and filtered against those broadcast keys (affected band
 * buckets, affected phashes, affected suffix tiers) before any shuffle.
 * Index stages make the scans cheap:
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
 * Per-batch work: feature-extract new rows; band new reps; pair only inside
 * affected buckets; verify only pairs touching a new row. Global stages
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

  // fixed pool for the three concurrent generator chains of `append`
  // (mirrors Probe's serving chains). Daemon threads so an idle ingest
  // process never blocks JVM exit.
  private lazy val chainEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => {
          val t = new Thread(r, "append-chain"); t.setDaemon(true); t
        }))

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
    * The final select restores (src, dst) COLUMN ORDER: a USING-join moves
    * its key first, so after the dst join the frame is (dst, src, …) — a
    * downstream positional `union` would silently flip every pair, turning
    * src<dst arrival order on its head (a later row would block an earlier
    * one; caught by StreamingSpec's boundary pair). */
  private[graft] def pairsTouching(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs
      .join(broadcast(ids.select(col("id").as("src"), lit(true).as("sNew"))), Seq("src"), "left")
      .join(broadcast(ids.select(col("id").as("dst"), lit(true).as("dNew"))), Seq("dst"), "left")
      .where(col("sNew") || col("dNew"))
      .select(col("src"), col("dst"))

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

    // ---- 2-5. generator chains, CONCURRENT --------------------------------
    // The batch's KEY projection collects ONCE and every batch-bounded
    // frame below derives from it as a LocalRelation: the previous shape
    // re-derived each (ids / norms / phashes / distinct-key) set as its own
    // distinct()+broadcast subtree — a batch-partition re-scan, a shuffle
    // and a broadcast-exchange job PER CONSUMER, all pure scheduling floor
    // at epoch batch sizes (the epoch profile put graft:candidates at 88
    // stages). Collecting batch-scale state is the same boundedness
    // assumption the broadcast(newKeyed) hints always made; row-level work
    // (banding, cohort joins, verification) stays distributed.
    //
    // The exact/minhash, phash/simhash and norm/suffix chains share no data
    // past newKeyed, so their index appends, bounded collects and size-agg
    // actions run CONCURRENTLY (guide §2.6 — Spark schedules jobs from any
    // thread; this is the serving path's 3-chain design applied to ingest).
    // Sequential, the chains' driver syncs were each a dead bubble on a
    // 32-core box; overlapped, the epoch's wall is the longest chain.
    val keyCols = Candidates.ExactKeyCols
    val newKeyed = {
      val proj = cleanNew.select((Seq("image_id") ++ keyCols).map(col): _*)
      spark.createDataFrame(
        java.util.Arrays.asList(proj.collect(): _*), proj.schema)
    }
    val newIdSeq = newKeyed.select("image_id").collect().map(_.getString(0)).toSeq
    val newIds = newIdSeq.toDF("id")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: scala.concurrent.ExecutionContext = chainEc
    // the pool's threads inherited the Caches owner of whichever call first
    // started them; each chain registers its persists under THIS caller's
    // owner, so a scoped caller's release covers them
    val owner = graft.util.Caches.currentOwner
    def chain[A](body: => A): Future[A] = Future(graft.util.Caches.scoped(owner)(body))

    // exact groups + minhash index/pairs
    val fExact = chain {
      val oldGroupReps = Layout.read(spark, root, "rep_map")
        .where(col("image_id") === col("rep"))
        .select(keyCols.map(col) :+ col("rep"): _*)
      // stream the big rep table, broadcast the new keys — no corpus
      // shuffle; null-safe, as the rep map groups null keys together
      val matched = oldGroupReps.join(broadcast(newKeyed),
          keyCols.map(k => oldGroupReps(k) <=> newKeyed(k)).reduce(_ && _))
        .select(newKeyed("image_id") +: keyCols.map(newKeyed(_)) :+ oldGroupReps("rep"): _*)
      // repTag, not a min-over-window: batch-bounded here, but the batch can
      // itself carry a hot caption — and the candidate machinery is asserted
      // Window-free end to end (PlanSpec)
      val unmatched = Candidates.repTag(
        newKeyed.join(broadcast(matched.select("image_id")), Seq("image_id"), "left_anti"),
        keyCols, "image_id", "rep")
      val repNew = matched.unionByName(unmatched).withColumn("batch", lit(batch))
      Layout.runStagePartition(spark, root, "rep_map", batchCol, batch)(repNew)
      // batch-bounded (⊆ batch rows) — localized so the banding input and
      // the pairsTouching filter broadcast for free
      val newRepIds = repNew.where(col("image_id") === col("rep"))
        .select("image_id").collect().map(_.getString(0)).toSeq.toDF("image_id")
      Layout.runStagePartition(spark, root, "banded", batchCol, batch)(
        Candidates.minhashBanded(cleanNew.join(broadcast(newRepIds), Seq("image_id")), cfg)
          .withColumn("batch", lit(batch)))
      val bandedAll = Layout.read(spark, root, "banded")
      // only buckets that received a new key participate. The affected-key
      // set is batch-bounded — collected and applied as a capped InSet
      // prefilter under the index scan (Candidates.inSetPrefilter, ~3x
      // cheaper per scanned row than hash-probing a broadcast join), with
      // the exact equi-join dropping InSet collisions.
      val affectedBands = bandedAll.where(col("batch") === batch)
        .select("band", "bkey").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val bandCohort = Candidates.inSetPrefilter(
          bandedAll.select("id", "band", "bkey"), "bkey",
          affectedBands.map(_._2).distinct)
        .join(broadcast(affectedBands.toDF("band", "bkey")), Seq("band", "bkey"))
      val exactNew = repNew.where(col("image_id") =!= col("rep"))
        .select(col("rep").as("src"), col("image_id").as("dst"), lit("exact").as("source"))
      val mhNew = pairsTouching(
        Candidates.saltedSelfJoin(bandCohort, cfg.bucketSizeCap), newIds)
        .withColumn("source", lit("minhash"))
      (exactNew, mhNew)
    }

    // phash groups + simhash index/pairs
    val fSim = chain {
      // a row with a null phash gets no phash/simhash candidates
      val phNewValSeq = newKeyed.where(col("phash").isNotNull)
        .select("phash").collect().map(_.getLong(0)).distinct.toSeq
      val phNewVals = phNewValSeq.toDF("phash")
      // ONE corpus pass serves both phash needs (the old shape paid two
      // full clean scans): old members of touched phashes — for the
      // present-phash set AND the per-phash min (prepPh). Batch-bounded
      // output, persisted for its two consumers (released after the
      // candidates write, its last consumer).
      val phOldCohort = clean.select("image_id", "phash", "batch")
        .where(col("batch") =!= batch)
        .join(broadcast(phNewVals), Seq("phash"))
        .select("image_id", "phash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val presentOld = phOldCohort.select("phash").distinct().collect()
        .map(_.getLong(0)).toSet
      val newDistinctPh = phNewValSeq.filterNot(presentOld).toDF("phash")
      val newPhReps = cleanNew.select("image_id", "phash")
        .join(broadcast(newDistinctPh), Seq("phash"))
        .groupBy("phash").agg(min("image_id").as("id"))
        .select("id", "phash")
      Layout.runStagePartition(spark, root, "banded_simhash", batchCol, batch)(
        Candidates.simhashBanded(newPhReps, cfg).withColumn("batch", lit(batch)))
      val bandedSimAll = Layout.read(spark, root, "banded_simhash")
      // prepPh reuses the phash cohort — the per-phash min over (old
      // members of touched phashes ∪ batch rows) is exactly the old
      // full-scan groupBy restricted to the touched keys
      val prepPh = phOldCohort
        .unionByName(cleanNew.select("image_id", "phash"))
        .groupBy("phash").agg(min("image_id").as("prep"))
      val samePhashNew = cleanNew.select("image_id", "phash")
        .join(broadcast(prepPh), Seq("phash"))
        .where(col("image_id") =!= col("prep"))
        .select(col("prep").as("src"), col("image_id").as("dst"))
      val affectedCombos = bandedSimAll.where(col("batch") === batch)
        .select("band", "bkey").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val simBandNew =
        if (affectedCombos.isEmpty) samePhashNew.limit(0)
        else {
          val simCohort = Candidates.inSetPrefilter(
              bandedSimAll.select("id", "band", "bkey"), "bkey",
              affectedCombos.map(_._2).distinct)
            .join(broadcast(affectedCombos.toDF("band", "bkey")), Seq("band", "bkey"))
          pairsTouching(
            Candidates.saltedSelfJoin(simCohort, cfg.bucketSizeCap),
            newPhReps.select("id"))
        }
      val simNew = samePhashNew.unionByName(simBandNew)
        .withColumn("source", lit("simhash"))
      (simNew, phOldCohort)
    }

    // norm groups + suffix index/pairs
    val fSub = chain {
      val newNorms = newKeyed.select("image_id", "norm")
      val oldNormReps = Layout.read(spark, root, "norm_map")
        .where(col("image_id") === col("nrep")).select("norm", "nrep")
      val matchedN = oldNormReps.join(broadcast(newNorms), Seq("norm"))
        .select("image_id", "norm", "nrep")
      val unmatchedN = Candidates.repTag(
        newNorms.join(broadcast(matchedN.select("image_id")), Seq("image_id"), "left_anti"),
        Seq("norm"), "image_id", "nrep")
      val normNew = matchedN.unionByName(unmatchedN).withColumn("batch", lit(batch))
      Layout.runStagePartition(spark, root, "norm_map", batchCol, batch)(normNew)
      val normMapAll = Layout.read(spark, root, "norm_map")
      // derived from normNew, NOT unmatchedN: on a re-run after the
      // norm_map partition committed (crash / stream redelivery), the new
      // reps match THEMSELVES in oldNormReps, so unmatchedN is empty — an
      // unmatchedN-based slice would commit an EMPTY suffix_keys partition
      // and every future append would silently miss substring duplicates
      // against these captions. normNew's self-rep rows are stable across
      // re-runs (the same trick that keeps newRepIds stable via matched
      // self-rows).
      val newNormRepRows = normNew.where(col("image_id") === col("nrep"))
        .select(col("nrep").as("id"), col("norm")).distinct()
      Layout.runStagePartition(spark, root, "suffix_keys", batchCol, batch)(
        SuffixDup.suffixEntries(newNormRepRows).select("b_id", "tier", "k")
          .withColumn("batch", lit(batch)))
      val suffixKeysAll = Layout.read(spark, root, "suffix_keys")

      // containment relations touching norms of the new batch
      val touchedNorms = newKeyed.select("norm").distinct()
      val nrepsAll = normMapAll.where(col("image_id") === col("nrep"))
      val touchedReps = nrepsAll.join(broadcast(touchedNorms), Seq("norm"))
        .select(col("nrep").as("id"), col("norm"))
      // R1: touched captions contained in ANY caption — probe new, filter
      // the suffix index by the probes' keys (batch-bounded: one probe
      // entry per touched rep), rejoin norms for verification
      val probesNew = SuffixDup.probeEntries(touchedReps, cfg)
      val probeTierK = probesNew.select("tier", "k").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val skCohort = Candidates.inSetPrefilter(
          suffixKeysAll.select("b_id", "tier", "k"), "k",
          probeTierK.map(_._2).distinct)
        .join(broadcast(probeTierK.toDF("tier", "k")), Seq("tier", "k"))
      // NO broadcast hint on skCohort: unlike the other broadcasts here
      // (all bounded by the new batch), this is a slice of the full suffix
      // index selected by the probes' (tier,k) keys — a hot shared prefix
      // can pull a corpus-scale slice through the driver. AQE still
      // converts the shuffle join to a broadcast one when the slice is
      // small.
      val suffixCohort = nrepsAll
        .select(col("nrep").as("b_id"), col("norm").as("b_norm"))
        .join(skCohort, Seq("b_id"))
      val r1 = SuffixDup.verifyJoin(probesNew, suffixCohort, cfg)
      // R2: ANY caption contained in a touched caption — build new, filter
      // all probes by the new builds' keys (probe keys are one hash per row)
      val buildsNew = SuffixDup.suffixEntries(touchedReps)
      val buildTierK = buildsNew.select("tier", "k").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val probeCohort = Candidates.inSetPrefilter(
          SuffixDup.probeEntries(
            nrepsAll.select(col("nrep").as("id"), col("norm")), cfg), "k",
          buildTierK.map(_._2).distinct)
        .join(broadcast(buildTierK.toDF("tier", "k")), Seq("tier", "k"))
      val r2 = SuffixDup.verifyJoin(probeCohort, buildsNew, cfg)
      val relations = r1.union(r2).distinct()
      val involvedReps = relations.select(col("src").as("nrep"))
        .union(relations.select(col("dst").as("nrep"))).distinct()
      val normCohort = normMapAll.join(broadcast(involvedReps), Seq("nrep"))
        .select("image_id", "norm", "nrep")
      pairsTouching(
        Candidates.expandSubstringPairs(relations, normCohort)
          .select("src", "dst"), newIds)
        .withColumn("source", lit("substring"))
    }

    val (exactNew, mhNew) = Await.result(fExact, 60.minutes)
    val (simNew, phOldCohort) = Await.result(fSim, 60.minutes)
    val subNew = Await.result(fSub, 60.minutes)

    val candsNew = exactNew.unionByName(mhNew.select("src", "dst", "source"))
      .unionByName(simNew.select("src", "dst", "source"))
      .unionByName(subNew.select("src", "dst", "source"))
      .withColumn("batch", lit(batch))
    Layout.runStagePartition(spark, root, "candidates", batchCol, batch)(candsNew)
    phOldCohort.unpersist(false)
    val candsAll = Layout.read(spark, root, "candidates")

    // ---- 6. verify only the new pairs -------------------------------------
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

    // ---- 7. global stages ------------------------------------------------
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
    Dedup.writeRunMetrics(spark, root, decis, lowQ, clusters)
    DedupResult(clean, lowQ, candsAll, verifiedAll, clusters, decis, recur, audit)
  }
}
