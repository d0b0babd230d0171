package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.pairs.{Candidates, LocalCandidates, PairVerifier}
import graft.sig.SuffixDup
import graft.tables.Layout

/**
 * Read-only probe outputs: dedup decisions for the probed rows (the exact
 * rows `Incremental.append` would write for this batch) plus the
 * quality-gate rejects that never reach similarity search. Both frames are
 * LocalRelations — the serving answer is COMPUTED when the probe call
 * returns, not a lazy plan (a caller's later action must not silently
 * re-run the matching under different session conf), and consuming it
 * (outcomes, collects) costs no cluster work.
 */
final case class ProbeResult(decisions: DataFrame, lowQuality: DataFrame) {

  /** One row per probed input: the serving answer. `outcome` is the
    * reference's response status — rejected_low_quality / blocked (409) /
    * duplicate-flagged (201+warning) / new (201). */
  def outcomes: DataFrame =
    decisions.select(col("image_id"), col("decision").as("outcome"),
      col("best_match_id"), col("best_score"), col("cluster_id"), col("is_recurring"))
      .unionByName(
        lowQuality.select(col("image_id"), lit("low_quality").as("outcome")),
        allowMissingColumns = true)
}

/**
 * Point-lookup serving path: evaluate a batch of incoming rows against a
 * completed dedup root WITHOUT mutating any state — the reference's actual
 * request shape (`app/services/duplicate_detector.py:51-97`
 * `process_incoming_bug` + `similarity_engine.py:32-104` `find_similar_bugs`:
 * check the incoming item against the persisted index, return a decision).
 * `Incremental.append` is ingest (match + commit); `Probe.run` is the same
 * matching with the commit deleted — the "is this a duplicate?" API call, a
 * dry-run admission check, a what-if triage query.
 *
 * Contract (asserted by ProbeSpec):
 *   Probe.run(root, batch).decisions == the batch's decision rows of a
 *   subsequent Incremental.append(root, batch, _), byte for byte — and the
 *   root's files are untouched (no writes, no manifest changes, no lineage).
 *
 * Serving-latency design (round-4 verdict #3: a 5k probe paid ~32 s, all of
 * it stage/scheduling floor, not data):
 *
 *  1. A per-(session, root) `ProbeContext` holds the persisted index stages
 *     as MEMORY_AND_DISK-cached frames — the FAISS load-index-at-startup
 *     analog (`app/utils/vector_store.py:138-163`). The first probe pays the
 *     parquet scans; every later probe reads executor memory. Staleness is
 *     impossible by construction: the context records each stage's manifest
 *     stamp and any append/refresh/compaction rewrites a manifest, which
 *     rebuilds the context on the next call.
 *  2. Probe plans execute under probe-scoped conf: shuffle.partitions
 *     dropped to `ProbePartitions` (everything that shuffles is
 *     batch-proportional BY DESIGN — the corpus is only ever scan-filtered
 *     against broadcast batch keys — so corpus-sized partition counts just
 *     multiply empty-task scheduling), and AQE off (re-optimization is a
 *     driver sync per shuffle stage; probe shuffles are too small to ever
 *     re-plan profitably). The session conf is restored before returning;
 *     the result frames are already materialized by then.
 *  3. Everything batch-sized lives on the DRIVER as LocalRelations
 *     (`local`), cluster jobs run only at the index-cohort boundaries
 *     (cached stage ⋈ broadcast batch keys, re-localized immediately), and
 *     the quotient CC is a driver union-find
 *     (`ConnectedComponents.runLocal`). Serving latency is a job-count
 *     floor: the localCheckpoint form of this path cost 56 sequential
 *     jobs ≈ 19–23 s warm per 1k batch; the localized form cuts the job
 *     count to the ~15 cohort fetches.
 *
 * Scale shape is append's: the probe batch is the small side, so its keys
 * broadcast; persisted index stages (rep_map / norm_map / banded /
 * banded_simhash / suffix_keys) are only ever SCANNED and filtered against
 * those broadcast keys — the corpus never shuffles. Per-probe-batch work is
 * proportional to the batch and the band buckets / components it touches.
 *
 * Assumes probe ids are unseen and sort after the corpus ids (arrival
 * order — the same invariant append requires). Probe rows DO see each other
 * (a batch of two identical new captions reports the second as a duplicate
 * of the first), exactly as sequential requests would in the reference.
 */
object Probe {

  /** Shuffle partitions for probe plans. Everything that shuffles is
    * batch-proportional (the corpus is only ever scan-filtered against
    * broadcast batch keys), so a corpus-sized count just multiplies empty
    * tasks. Measured on the 1k-batch serving shape: 1 beats 8 (6.5 s vs
    * 8.0 s median) once the heavy batch-local derivations run inside the
    * concurrent chains — per-stage task floors dominate intra-job
    * parallelism at this size. */
  val ProbePartitions = "1"

  /** The persisted index stages, cached for repeated probes, plus the
    * manifest stamps they were loaded under. */
  private final case class Index(
      oldClean: DataFrame, oldGroupReps: DataFrame, oldNormReps: DataFrame,
      normMapAll: DataFrame, banded: DataFrame, bandedSim: DataFrame,
      suffixJoined: DataFrame, oldProbes: DataFrame, clustersPrev: DataFrame) {
    def frames: Seq[DataFrame] = Seq(oldClean, oldGroupReps, oldNormReps,
      normMapAll, banded, bandedSim, suffixJoined, oldProbes, clustersPrev)
  }

  /** Stages whose manifests stamp the context (any mutation path rewrites
    * the manifest of at least one of them — appends touch every index
    * stage; QA refresh rewrites clusters). */
  private val StampStages = Seq("features", "rep_map", "norm_map", "banded",
    "banded_simhash", "suffix_keys", "clusters")

  private def stamp(root: String): String =
    StampStages.map(s => Layout.manifestStamp(root, s)).mkString("\u0000")

  final class Context private[Probe] (val spark: SparkSession, val root: String,
      val cfg: DedupConfig, idx: Index, stampAtOpen: String) {
    private[Probe] def index: Index = idx
    private[Probe] def fresh: Boolean = stamp(root) == stampAtOpen
    def probe(input: DataFrame): ProbeResult = evaluate(this, input)
    def close(): Unit = idx.frames.foreach(_.unpersist(false))
  }

  /** Load (and cache) the serving index for `root` — the FAISS
    * load-at-startup analog. Builds the incremental index stages first if
    * the root has never served an append or probe (the ONLY write this
    * path can ever perform). */
  def open(spark: SparkSession, root: String,
      cfg: DedupConfig = DedupConfig.default): Context = {
    Incremental.ensureIndexes(spark, root, cfg)
    // serving index reads trade memory for scan latency: every probe
    // re-scans these frames, so per-scan decompression is a recurring tax
    // paid on the serving path. The conf is captured per-frame at persist()
    // registration, so it is set only around the Index construction and
    // restored before returning — nothing else in the session is affected.
    openLock.synchronized {
      val ck = "spark.sql.inMemoryColumnarStorage.compressed"
      val ckSaved = spark.conf.getOption(ck)
      spark.conf.set(ck, "false")
      def cached(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
      try { buildIndex(spark, root, cfg, cached) }
      finally ckSaved match {
        case Some(v) => spark.conf.set(ck, v)
        case None => spark.conf.unset(ck)
      }
    }
  }

  private def buildIndex(spark: SparkSession, root: String, cfg: DedupConfig,
      cached: DataFrame => DataFrame): Context = {
    val idx = Index(
      oldClean = cached(Layout.read(spark, root, "features")
        .where(!col("is_low_quality")).drop("batch")),
      oldGroupReps = cached(Layout.read(spark, root, "rep_map")
        .where(col("image_id") === col("rep"))
        .select(Candidates.ExactKeyCols.map(col) :+ col("rep"): _*)),
      oldNormReps = cached(Layout.read(spark, root, "norm_map")
        .where(col("image_id") === col("nrep")).select("norm", "nrep")),
      normMapAll = cached(Layout.read(spark, root, "norm_map")
        .select("image_id", "norm", "nrep")),
      banded = cached(Layout.read(spark, root, "banded")
        .select("id", "band", "bkey")),
      bandedSim = cached(Layout.read(spark, root, "banded_simhash")
        .select("id", "band", "bkey")),
      // suffix index PRE-JOINED with its reps' caption text: the per-probe
      // suffix cohort is then a pure broadcast-filter scan instead of a
      // (suffix_keys ⋈ norm reps) shuffle join per call — the join runs once
      // here, at load time (the "build the serving index up front" move).
      // The old-build × new-probe cross terms on b_id are empty by the
      // unseen-ids contract, so old⋈old via this frame plus local new⋈new
      // covers the full union join append computes.
      suffixJoined = cached(Layout.read(spark, root, "suffix_keys")
        .select("b_id", "tier", "k")
        .join(Layout.read(spark, root, "norm_map")
          .where(col("image_id") === col("nrep"))
          .select(col("nrep").as("b_id"), col("norm").as("b_norm")), Seq("b_id"))
        .select("b_id", "b_norm", "tier", "k")),
      // old norm reps' probe entries, precomputed (filter+hash per row is
      // cheap but pays a full norm_map pass per probe otherwise)
      oldProbes = cached(SuffixDup.probeEntries(
        Layout.read(spark, root, "norm_map")
          .where(col("image_id") === col("nrep"))
          .select(col("nrep").as("id"), col("norm")), cfg)),
      clustersPrev = cached(Layout.read(spark, root, "clusters")))
    new Context(spark, root, cfg, idx, stamp(root))
  }

  // one serving context per (session, root); rebuilt when the root's
  // manifests move (append/refresh/compaction) or the config changes
  private val ctxMemo =
    scala.collection.concurrent.TrieMap.empty[String, Context]
  graft.util.Caches.onRelease(t => if (t.isEmpty) {
    ctxMemo.values.foreach(_.close()); ctxMemo.clear()
  })

  // serializes context open/rebuild AND the conf save/restore inside open():
  // two concurrent run() rebuilds could otherwise interleave the get-then-put
  // (leaking the losing context's persisted frames) and the save/set/restore
  // of the columnar-compression override (ADVICE r5). Reentrant, so run()'s
  // rebuild can call open() under the same lock.
  private val openLock = new Object

  /** Evaluate `input` read-only against `root`, reusing (or transparently
    * rebuilding) the cached serving context. */
  def run(spark: SparkSession, root: String, input: DataFrame,
      cfg: DedupConfig = DedupConfig.default): ProbeResult = {
    // The quotient path composes with the PERSISTED clusters table; a QA
    // override recorded after the last global derivation (forceLink without
    // refreshGlobal) is invisible to it, so probe answers would diverge
    // from what the next append writes — refuse rather than lie.
    if (graft.qa.Qa.pendingOverrides(spark, root))
      throw new IllegalStateException(
        s"root $root has QA overrides not yet reflected in its clusters " +
          "table; run Qa.refreshGlobal (or Qa.reclassify, which refreshes) " +
          "before probing")
    val key = s"${graft.util.Caches.sessionId(spark)}:$root"
    val ctx = openLock.synchronized {
      ctxMemo.get(key) match {
        case Some(c) if c.cfg == cfg && c.fresh => c
        case stale =>
          stale.foreach(_.close())
          val c = open(spark, root, cfg)
          ctxMemo.put(key, c)
          c
      }
    }
    ctx.probe(input)
  }

  /** Set probe-scoped session conf, restore on exit. The result frames are
    * eagerly materialized inside the scope, so restored conf never replans
    * probe work. (Serving assumes the session isn't concurrently planning
    * other queries — the same exclusivity a spark-submit serving job has.) */
  private val confLock = new Object
  private def withProbeConf[A](spark: SparkSession)(f: => A): A =
    // serialized: two concurrent probes would otherwise race the
    // save/restore (B saves A's override as "previous" and restores it
    // permanently). Probes are short and a serving deployment issues them
    // from one loop anyway; the heavy context build happens OUTSIDE this
    // scope, so only plan+materialize serializes.
    confLock.synchronized {
      val overrides = Map(
        "spark.sql.shuffle.partitions" -> ProbePartitions,
        "spark.sql.adaptive.enabled" -> "false")
      val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Materialize a batch-proportional frame onto the driver as a
    * `LocalRelation` (one collect job; zero jobs for every later consumer —
    * a broadcast of a LocalRelation is a driver-side copy, not a cluster
    * job). THE serving-latency primitive: probe latency is a JOB-COUNT
    * floor (measured 56 sequential jobs ≈ 19–23 s warm for a 1k batch —
    * every broadcast subtree and CC round was its own driver-coordinated
    * job), so the probe plan is cut at each index-cohort boundary and
    * everything batch-sized lives on the driver. */
  // fixed pool for the concurrent candidate chains — 3 outer chains plus
  // the suffix chain's 2 nested sub-chains (nested futures must never wait
  // on their own parent's thread). Daemon threads so an idle serving
  // process never blocks JVM exit.
  private lazy val probeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(5,
        (r: Runnable) => { val t = new Thread(r, "probe-branch"); t.setDaemon(true); t }))

  private def local(spark: SparkSession, df: DataFrame, label: String): DataFrame = {
    val sc = spark.sparkContext
    sc.setJobDescription(s"probe:$label")
    try spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    finally sc.setJobDescription(null)
  }

  private def evaluate(ctx: Context, input: DataFrame): ProbeResult =
    withProbeConf(ctx.spark) {
      val spark = ctx.spark
      val cfg = ctx.cfg
      val root = ctx.root
      val idx = ctx.index
      import spark.implicits._
      def L(label: String)(df: DataFrame): DataFrame = local(spark, df, label)
      // distinct projection of a LOCAL frame, deduplicated on the driver:
      // collecting a projection over a LocalRelation is free (the optimizer
      // folds it), the Scala distinct costs no job, and every consumer —
      // broadcast hints especially — sees a plain LocalRelation instead of
      // re-running an Aggregate subtree once per consuming query
      def dl(df: DataFrame): DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(df.collect().distinct: _*), df.schema)
      // Literal-IN prefilter under a cohort join: probing a corpus-wide
      // cached scan through a broadcast-hash join measured ~3x the cost of
      // a codegen'd InSet filter over the same rows (1.2 s vs 0.45 s on the
      // 6.4M-row simhash index) — so each cohort fetch filters the scan
      // with the touched keys as literals FIRST, and the exact equi-join
      // runs over the near-cohort-sized survivors. Collect of a dl frame
      // is free (LocalRelation). CAPPED: analyzer cost over an In's child
      // list is superlinear (a 5k-row batch's ~80k band keys drove one
      // probe rep to 155 s of pure driver planning), so past the cap the
      // plain broadcast join — whose cost is flat in key count — stands
      // alone. Serving batches are interactive-sized; the cap covers them.
      val inFilterKeyCap = 32 * 1024
      def prefiltered(scan: DataFrame, c: String, local: DataFrame): DataFrame = {
        val ks = local.select(c).collect().map(_.get(0)).distinct.toSeq
        if (ks.sizeIs <= inFilterKeyCap) scan.where(col(c).isin(ks: _*)) else scan
      }
      // Single-key cohort filter: for a DISTINCT key set, the inner join
      // against the key frame is a pure semi-join — the InSet filter IS the
      // fetch, and dropping the join drops the broadcast-exchange build job
      // Spark submits per broadcast-hash join even for a LocalRelation
      // build side (measured with tools.ProbeJobProbe: scan ⋈
      // broadcast(local) = 2 jobs, scan.where(isin) = 1). Past the cap the
      // broadcast-join fallback stands (flat planning cost in key count).
      def keyFiltered(scan: DataFrame, c: String, keys: Seq[Any],
          keysDf: => DataFrame): DataFrame =
        if (keys.isEmpty) scan.where(lit(false))
        else if (keys.sizeIs <= inFilterKeyCap) scan.where(col(c).isin(keys: _*))
        else scan.join(broadcast(keysDf), Seq(c))

      // One decode+fingerprint pass over the batch, then the rows live on
      // the driver: every batch-local DERIVATION below runs in driver Scala
      // (the spec-pinned `LocalCandidates` twins), and only joins against
      // the cached index stages (each immediately re-localized — the
      // results are cohort-sized) run as cluster jobs. Column-level logic
      // is IDENTICAL to append's — the same primitives over the same
      // shapes, only the physical placement changes (ProbeSpec's
      // byte-parity contract is the regression net).
      val feats = L("feats")(Dedup.features(input, cfg))
      val cleanNew = feats.where(!col("is_low_quality"))
      // filters/projections of a LocalRelation fold at optimization time —
      // these collects are driver-only, no job
      val lowQ = L("lowQ")(feats.where(col("is_low_quality"))
        .select("image_id", "caption", "issues", "quality_score", "quality_severity")
        .withColumn("status", lit(graft.qa.Qa.Pending)))
      val oldClean = idx.oldClean
      val cleanRows = cleanNew
        .select("image_id", "norm", "w", "h", "fmt", "phash", "shingles").collect()
      val newIdSeq = cleanRows.map(_.getString(0)).toSeq
      val newIdSet = newIdSeq.toSet
      def touching(pairs: Seq[(String, String)]): Seq[(String, String)] =
        pairs.filter(p => newIdSet.contains(p._1) || newIdSet.contains(p._2))

      // ---- candidate generation: three independent index-fetch chains ----
      // The exact/minhash chain, the phash/simhash chain, and the norm/
      // suffix chain (append steps 2-5, same values) share no data until the
      // candidate union, so their cohort fetches run CONCURRENTLY (Spark
      // schedules jobs from any thread; the probe-scoped session conf is
      // fixed for the whole scope). The serving wall for this section is
      // the longest chain, not the sum of the three.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.DurationInt
      implicit val ec: scala.concurrent.ExecutionContext = probeEc

      val keyCols = Candidates.ExactKeyCols

      // exact groups + minhash bands
      val fExactMh = Future {
        val newKeyed = cleanNew.select((Seq("image_id") ++ keyCols).map(col): _*)
        // the ONE cluster fetch of this chain head: the rep cohort join
        // keys on multiple columns (no single-column literal prefilter
        // applies), so the group index is probed by broadcast join —
        // null-safe, as the rep map groups null keys together
        val matchedRows = L("matched")(
          idx.oldGroupReps.join(broadcast(newKeyed),
            keyCols.map(k => idx.oldGroupReps(k) <=> newKeyed(k)).reduce(_ && _))
            .select(col("image_id"), col("rep"))).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        // unmatched rows rep-tag among themselves (driver group-min — the
        // same min-id-per-key repTag computes)
        val unmatchedTag = LocalCandidates.repTag(
          cleanRows.toSeq.filterNot(r => matchedRows.contains(r.getString(0)))
            .map(r => r.getString(0) ->
              ((r.get(1), r.get(2), r.get(3), r.get(4), r.get(5)))))
        val repOf: Map[String, String] = matchedRows ++ unmatchedTag
        val newRepIds = repOf.collect { case (id, rep) if id == rep => id }.toSet
        val exactNew = repOf.toSeq.collect {
          case (id, rep) if id != rep => (rep, id)
        }
        // banding of the new reps: driver Scala over the batch's shingles
        val bandedNew = LocalCandidates.minhashBanded(
          cleanRows.toSeq.filter(r => newRepIds.contains(r.getString(0)))
            .map(r => r.getString(0) ->
              (if (r.isNullAt(6)) null else r.getSeq[Long](6))), cfg)
        val affectedBands = bandedNew.map(r => (r._2, r._3)).distinct
        val affectedSet = affectedBands.toSet
        // bkey-only fetch (exact (band,bkey) membership restored by the
        // driver-side filter — InSet false hits are dropped there)
        val cohortRows =
          if (affectedBands.isEmpty) Seq.empty[(String, Int, Long)]
          else L("bandCohort")(
            keyFiltered(idx.banded, "bkey", affectedBands.map(_._2).distinct,
              affectedBands.map(_._2).distinct.toDF("bkey"))
              .select("id", "band", "bkey")).collect()
            .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
            .filter(r => affectedSet.contains((r._2, r._3))).toSeq
        // pair emission over the localized cohort is driver work now
        val mhNew = touching(LocalCandidates.bucketPairs(cohortRows ++ bandedNew))
        (exactNew, mhNew)
      }

      // phash groups + simhash bands
      val fSim = Future {
        // a row with a null phash gets no phash/simhash candidates
        val phNew = cleanRows.toSeq.filterNot(_.isNullAt(5))
          .map(r => (r.getString(0), r.getLong(5)))
        val phNewVals = phNew.map(_._2).distinct
        // one cluster fetch serves both: old members of touched phashes
        // (for prepPh) and the present-in-corpus phash set
        val phOldCohort = L("phOldCohort")(
          keyFiltered(oldClean.select(col("image_id"), col("phash")),
            "phash", phNewVals, phNewVals.toDF("phash"))
            .select("image_id", "phash")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        val presentOld = phOldCohort.map(_._2).toSet
        // min image_id per touched phash over old cohort + batch rows
        val prepOf = LocalCandidates.repTag(phOldCohort ++ phNew)
        val samePhashNew = phNew.collect {
          case (id, _) if id != prepOf(id) => (prepOf(id), id)
        }
        // reps of the batch's phashes the corpus has not seen
        val newPhReps = {
          val unseen = phNew.filterNot(p => presentOld.contains(p._2))
          val rep = LocalCandidates.repTag(unseen)
          unseen.filter(p => rep(p._1) == p._1)
        }
        val newPhRepIds = newPhReps.map(_._1).toSet
        val simBandedNew = LocalCandidates.simhashBanded(newPhReps, cfg)
        val affectedCombos = simBandedNew.map(r => (r._2, r._3)).distinct
        val comboSet = affectedCombos.toSet
        val simCohortRows =
          if (affectedCombos.isEmpty) Seq.empty[(String, Int, Long)]
          else L("simCohort")(
            keyFiltered(idx.bandedSim, "bkey", affectedCombos.map(_._2).distinct,
              affectedCombos.map(_._2).distinct.toDF("bkey"))
              .select("id", "band", "bkey")).collect()
            .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
            .filter(r => comboSet.contains((r._2, r._3))).toSeq
        val simBandNew = LocalCandidates.bucketPairs(simCohortRows ++ simBandedNew)
          .filter(p => newPhRepIds.contains(p._1) || newPhRepIds.contains(p._2))
        samePhashNew ++ simBandNew
      }

      // norm groups + suffix pass
      val fSub = Future {
        val newNorms = cleanRows.toSeq.map(r => (r.getString(0), r.getString(1)))
        val touchedNormSet = newNorms.map(_._2).distinct
        // ONE fetch serves both consumers that keyed on the same norm set:
        // the old rep per touched norm (norm-group matching) AND the old
        // reps participating in touched-caption containment
        val oldNormCohort = L("normRepCohort")(
          keyFiltered(idx.oldNormReps, "norm", touchedNormSet,
            touchedNormSet.toDF("norm"))
            .select("norm", "nrep")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        val oldRepByNorm = oldNormCohort.toMap
        val unmatchedTag = LocalCandidates.repTag(
          newNorms.filterNot(r => oldRepByNorm.contains(r._2)))
        val normNewRows = newNorms.map { case (id, norm) =>
          (id, norm, oldRepByNorm.getOrElse(norm, unmatchedTag(id)))
        }
        val normNewReps = normNewRows.collect {
          case (id, norm, nrep) if id == nrep => (id, norm)
        }.distinct
        val touchedRepsOld = oldNormCohort.map(p => (p._2, p._1))
        val touchedReps = touchedRepsOld ++ normNewReps
        // the new-probes-vs-old-builds chain (r1) and the old-probes-vs-
        // new-builds chain (r2) share only touchedReps (already resolved
        // here) — their fused fetch+verify jobs overlap
        val probesNew = LocalCandidates.probeEntries(touchedReps, cfg)
        val buildsNew = LocalCandidates.suffixEntries(touchedReps)
        val suffixSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b_id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("b_norm",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tier",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))
        def suffixDf(rows: Seq[(String, String, Int, Long)],
            aSide: Boolean): DataFrame = {
          val rs: Seq[org.apache.spark.sql.Row] =
            rows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4))
          val base = spark.createDataFrame(
            java.util.Arrays.asList(rs: _*), suffixSchema)
          if (aSide) base.select(col("b_id").as("a_id"),
            col("b_norm").as("a_norm"), col("tier"), col("k"))
          else base
        }
        // (tier, k) cohort filter: with a single prefix tier (Tiers.size
        // == 1, the shipped ladder) the k-only InSet IS the exact (tier,k)
        // membership test, so the fused fetch+verify jobs lose their
        // broadcast-exchange build jobs too; a multi-tier ladder falls
        // back to the join
        def tierKFiltered(scan: DataFrame, tk: Seq[(Int, Long)]): DataFrame =
          if (SuffixDup.Tiers.sizeIs == 1 && tk.sizeIs <= inFilterKeyCap)
            scan.where(col("k").isin(tk.map(_._2).distinct: _*))
          else scan.join(broadcast(tk.toDF("tier", "k")), Seq("tier", "k"))
        val fR1 = Future {
          val probeTierKSet = probesNew.map(t => (t._3, t._4)).distinct
          // old builds: pre-joined serving index, broadcast-filter scan
          // only; new builds: local rows filtered by the probes' keys.
          // Fused into ONE job with the contains-verify (the cohort's only
          // consumer) — the verify runs over the cached scan's partitions.
          val suffixCohortOld = tierKFiltered(idx.suffixJoined, probeTierKSet)
            .select("b_id", "b_norm", "tier", "k")
          val tkSet = probeTierKSet.toSet
          val suffixCohortNew = suffixDf(
            buildsNew.filter(t => tkSet.contains((t._3, t._4))), aSide = false)
          L("r1")(SuffixDup.verifyJoin(suffixDf(probesNew, aSide = true),
            suffixCohortOld.unionByName(suffixCohortNew), cfg))
        }
        val fR2 = Future {
          val buildTierKSet = buildsNew.map(t => (t._3, t._4)).distinct
          val tkSet = buildTierKSet.toSet
          // old probes precomputed at open(); new reps' probes are local
          val probeCohort = tierKFiltered(idx.oldProbes, buildTierKSet)
            .select("a_id", "a_norm", "tier", "k")
            .unionByName(suffixDf(
              LocalCandidates.probeEntries(normNewReps, cfg)
                .filter(t => tkSet.contains((t._3, t._4))), aSide = true))
          L("r2")(SuffixDup.verifyJoin(probeCohort,
            suffixDf(buildsNew, aSide = false), cfg))
        }
        val r1 = Await.result(fR1, 10.minutes)
        val r2 = Await.result(fR2, 10.minutes)
        // r1/r2 are local — union + distinct on the driver, zero jobs
        val relations = (r1.collect() ++ r2.collect())
          .map(r => (r.getString(0), r.getString(1))).distinct.toSeq
        val involvedReps = relations.flatMap(p => Seq(p._1, p._2)).distinct
        val involvedSet = involvedReps.toSet
        val normCohortRows = (if (involvedReps.isEmpty)
            Seq.empty[(String, String)]
          else L("normCohort")(
            keyFiltered(idx.normMapAll, "nrep", involvedReps,
              involvedReps.toDF("nrep"))
              .select("image_id", "nrep")).collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq) ++
          normNewRows.collect { case (id, _, nrep) if involvedSet(nrep) => (id, nrep) }
        // expandSubstringPairs, driver-side and keyed on rep ids: members
        // of the contained caption ↔ container rep and vice versa
        val membersByRep = normCohortRows.groupMap(_._2)(_._1)
        touching(LocalCandidates.expandSubstring(relations,
          membersByRep.getOrElse(_, Nil)))
      }

      val (exactNew, mhNew) = Await.result(fExactMh, 10.minutes)
      val simNew = Await.result(fSim, 10.minutes)
      val subNew = Await.result(fSub, 10.minutes)

      // driver-side union of the four generators' pair seqs (zero jobs)
      val candRows: Array[org.apache.spark.sql.Row] =
        (exactNew.map(p => org.apache.spark.sql.Row(p._1, p._2, "exact")) ++
          mhNew.map(p => org.apache.spark.sql.Row(p._1, p._2, "minhash")) ++
          simNew.map(p => org.apache.spark.sql.Row(p._1, p._2, "simhash")) ++
          subNew.map(p => org.apache.spark.sql.Row(p._1, p._2, "substring"))).toArray
      val sel = Seq("src", "dst", "source")
      val candsNew = spark.createDataFrame(
        java.util.Arrays.asList(candRows: _*),
        org.apache.spark.sql.types.StructType(sel.map(
          org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.StringType, nullable = true))))

      // ---- verify (append step 6) ------------------------------------------
      // hydration slice: verify inner-joins features on pair endpoints, so
      // only candidate-involved OLD rows are fetched (new rows are local).
      // Endpoint set built on the driver — the pair seqs are local. The
      // old-row slice fetch is FUSED into the verify job (it had exactly one
      // consumer; localizing it separately paid a whole sequential job).
      val candOldIdSeq = candRows.iterator
        .flatMap(r => Iterator(r.getString(0), r.getString(1)))
        .filterNot(newIdSet).toSeq.distinct
      // prefetch cluster labels for every OLD candidate endpoint (a superset
      // of the verified edges' sources) concurrently with verification —
      // removes the sequential label-lookup step after verify
      val fLab = Future {
        L("labPrefetch")(
          keyFiltered(idx.clustersPrev, "image_id", candOldIdSeq,
            candOldIdSeq.toDF("image_id"))
          .select("image_id", "cluster_id"))
      }
      val oldSlice = keyFiltered(oldClean, "image_id", candOldIdSeq,
          candOldIdSeq.toDF("image_id"))
        .select(cleanNew.columns.toIndexedSeq.map(col): _*)
      val verifiedNew = L("verifiedNew")(PairVerifier.verify(
        candsNew, oldSlice.unionByName(cleanNew), cfg))

      // ---- would-be global state over the touched components only ----------
      // Always the quotient path: probe edges point old→new (unseen ids sort
      // last), so the persisted clusters table — which reflects any QA
      // overrides from its own derivation (the pending guard in run()) —
      // composes with the new edges by min-label propagation; a force-split
      // among OLD rows is already materialized in clustersPrev, and no
      // override can name an unseen id. Promote rep-overrides re-anchor the
      // touched components' labels after the CC (Qa.anchorQuotient). The
      // quotient graph is batch-proportional BY CONSTRUCTION, so its CC is
      // a driver-side union-find (ConnectedComponents.runLocal) — zero jobs
      // instead of per-round join+agg+hash-sum jobs.
      val clustersPrev = idx.clustersPrev
      val newEdges = verifiedNew.where(col("is_edge"))
        .select("src", "dst", "match_score")
      // edge sources ⊆ candidate endpoints, so the prefetched label map
      // covers them; a source absent from it is a new id (its own label)
      val labMap = Await.result(fLab, 10.minutes).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val edgeSeq = newEdges.select("src", "dst").collect()
        .map(r => (labMap.getOrElse(r.getString(0), r.getString(0)), r.getString(1)))
        .toSeq
      val labels = ConnectedComponents.runLocal(newIdSeq, edgeSeq)
      // anchorQuotient is identity without promote overrides (L of a
      // LocalRelation is a free driver copy); with promotes its two
      // clustersPrev joins run once, localized here
      val qLabels = L("qLabels")(graft.qa.Qa.anchorQuotient(spark, root,
        labels.toSeq.toDF("id", "cluster_id"), clustersPrev))
      // label-derived small sets built on the driver (collect of a
      // LocalRelation is free; the DataFrame anti-join/distinct forms would
      // each re-plan per consumer)
      val qRows = qLabels.collect().map(r => r.getString(0) -> r.getString(1))
      val remap = qRows.toSeq
        .filter { case (id, lab) => !newIdSet.contains(id) && id != lab }
        .toDF("__from", "__to")
      val newAssign = qRows.toSeq.filter(kv => newIdSet.contains(kv._1))
        .toDF("image_id", "cluster_id")

      // Recurring status needs member counts only for clusters a probed row
      // lands in (decisions join recurring on the NEW rows' labels): count the
      // touched clusters' previous members — a broadcast-filtered scan, never
      // a corpus shuffle — plus the batch's own assignments. Counts equal the
      // full-table counts append computes, restricted to the touched labels.
      val touchedLabels = qRows.map(_._2).distinct.toSeq.toDF("cluster_id")
      // a member row survives iff its (possibly remapped) label is touched,
      // so stored-label ∈ touchedLabels ∪ remap-sources is a superset
      // prefilter for the scan
      val labelKeys = (qRows.map(_._2) ++
        qRows.collect { case (id, lab) if !newIdSet.contains(id) && id != lab => id })
        .distinct.toSeq.toDF("cluster_id")
      // single consumer (the decis job) — left lazy so the clustersPrev scan
      // fuses into decis' evaluation instead of paying its own job
      val prevTouched = prefiltered(clustersPrev, "cluster_id", labelKeys)
        .join(broadcast(remap), col("cluster_id") === col("__from"), "left")
        .withColumn("cluster_id", coalesce(col("__to"), col("cluster_id")))
        .join(broadcast(touchedLabels), Seq("cluster_id"))
        .select("image_id", "cluster_id")
      val recurTouched = Dedup.recurring(prevTouched.unionByName(newAssign), cfg)

      // the serving answer is a LocalRelation: computed HERE, inside the
      // probe-scoped conf, immune to later session-conf changes, and free
      // for the caller to re-consume (outcomes costs no cluster work)
      val decis = L("decis")(Dedup.decisionsEnriched(cleanNew, verifiedNew, newAssign,
        recurTouched, cfg))
      ProbeResult(decis, lowQ)
    }
}
