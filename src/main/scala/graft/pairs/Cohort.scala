package graft.pairs

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.sig.SuffixDup

/**
 * Candidate generation for a batch checked against the index of prior rows
 * — the reference's per-bug match against its store
 * (`app/services/duplicate_detector.py:51-97`). One engine serves both
 * callers: `Incremental.append` writes the index rows and candidates it
 * returns; `Probe.run` writes nothing.
 *
 * The batch's rows live on the driver and every batch-local derivation runs
 * in the `LocalCandidates` twins. Spark work is the cohort fetches: key-
 * filtered index rows collected onto the driver, one job each. Three
 * chains (exact groups + minhash bands, phash groups + simhash bands, norm
 * groups + suffix containment) share nothing but the batch, so their
 * fetches run concurrently.
 *
 * Placement is decided once, from counts (the `runAdaptive` pattern):
 *  - the lookups the batch bounds (one old rep per exact key, one per norm,
 *    the old min id per touched phash) are not gated;
 *  - the unbounded fetches (bucket mates, suffix matches, caption members)
 *    come back through `limit(budget + 1)`, and the pairs they make are
 *    counted before any is built. When a fetch or the pair count passes
 *    `budget`, the pairs come from `Dedup.candidatesPlaced` over the prior
 *    clean rows ∪ the batch, kept to the pairs that touch the batch
 *    (`pairsTouching`).
 * Only pairs with a batch member are ever built.
 */
object Cohort {

  /** The index of prior rows — every frame excludes the batch. */
  final case class Index(
      oldClean: DataFrame, // clean feature rows, no batch column
      groupReps: DataFrame, // rep_map reps: exact key columns + rep
      normReps: DataFrame, // norm_map reps: (norm, nrep)
      normMap: DataFrame, // (image_id, nrep)
      banded: DataFrame, // (id, band, bkey)
      bandedSim: DataFrame, // (id, band, bkey)
      suffixBuilds: DataFrame, // (b_id, b_norm, tier, k): suffix_keys with the rep's norm
      suffixProbes: DataFrame) { // (a_id, a_norm, tier, k) of the norm reps
    def frames: Seq[DataFrame] = Seq(oldClean, groupReps, normReps, normMap, banded,
      bandedSim, suffixBuilds, suffixProbes)
  }

  object Index {
    /** The index over the stage frames `read` returns; `keep` wraps each
      * frame (the probe caches them). */
    def of(read: String => DataFrame, cfg: DedupConfig,
        keep: DataFrame => DataFrame = identity): Index = {
      val normReps = read("norm_map").where(col("image_id") === col("nrep"))
      Index(
        oldClean = keep(read("features").where(!col("is_low_quality")).drop("batch")),
        groupReps = keep(read("rep_map").where(col("image_id") === col("rep"))
          .select(Candidates.ExactKeyCols.map(col) :+ col("rep"): _*)),
        normReps = keep(normReps.select("norm", "nrep")),
        normMap = keep(read("norm_map").select("image_id", "nrep")),
        banded = keep(read("banded").select("id", "band", "bkey")),
        bandedSim = keep(read("banded_simhash").select("id", "band", "bkey")),
        suffixBuilds = keep(read("suffix_keys").select("b_id", "tier", "k")
          .join(normReps.select(col("nrep").as("b_id"), col("norm").as("b_norm")), Seq("b_id"))
          .select("b_id", "b_norm", "tier", "k")),
        suffixProbes = keep(SuffixDup.probeEntries(
          normReps.select(col("nrep").as("id"), col("norm")), cfg)))
    }
  }

  /** The batch's candidates, where they were built ("local" or
    * "distributed"), and the batch's rows of the five index stages. */
  final case class Result(candidates: DataFrame, placement: String,
      repMap: Seq[Row], // image_id, the exact key columns, rep
      normMap: Seq[(String, String, String)], // image_id, norm, nrep
      banded: Seq[(String, Int, Long)], // id, band, bkey
      bandedSim: Seq[(String, Int, Long)], // id, band, bkey
      suffixKeys: Seq[(String, Int, Long)]) // b_id, tier, k

  /** Literal keys an InSet cohort filter takes. Scanning an index through a
    * codegen'd InSet costs about a third of hash-probing the same rows
    * through a broadcast join (0.45 s against 1.2 s on a 6.4M-row simhash
    * index), and a single-key filter needs no join at all: a job-listener
    * count on the probe's conf profile read scan ⋈ broadcast(local) as 2
    * jobs and scan.where(isin) as 1. Analyzer cost over an In's list is
    * superlinear (about 80k band keys of a 5k-row batch cost 155 s of
    * driver planning), so past the cap a broadcast semi-join, whose planning
    * cost is flat in the key count, filters instead. */
  val InSetKeyCap: Int = 32 * 1024

  /** Rows of `scan` whose column `c` is one of `keys` (distinct), in
    * `scan`'s column order: a USING semi-join moves its key first, and the
    * cohort's fetches read their rows by position. */
  private[graft] def keyFiltered(scan: DataFrame, c: String, keys: Seq[Any]): DataFrame =
    if (keys.isEmpty) scan.where(lit(false))
    else if (keys.sizeIs <= InSetKeyCap) scan.where(col(c).isin(keys: _*))
    else scan.join(broadcast(scan.sparkSession.createDataFrame(
      java.util.Arrays.asList(keys.map(Row(_)): _*), StructType(Seq(scan.schema(c))))),
      Seq(c), "left_semi").select(scan.columns.toIndexedSeq.map(col): _*)

  /** Keep only pairs that touch at least one id from `ids` (broadcast).
    * The final select restores the pairs' COLUMN ORDER: a USING-join moves
    * its key first, so after the dst join the frame is (dst, src, …) — a
    * downstream positional `union` would silently flip every pair, turning
    * src<dst arrival order on its head (a later row would block an earlier
    * one; caught by StreamingSpec's boundary pair). */
  private def pairsTouching(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs
      .join(broadcast(ids.select(col("id").as("src"), lit(true).as("sNew"))), Seq("src"), "left")
      .join(broadcast(ids.select(col("id").as("dst"), lit(true).as("dNew"))), Seq("dst"), "left")
      .where(col("sNew") || col("dNew"))
      .select(pairs.columns.toIndexedSeq.map(col): _*)

  /** The pool the chains run on (and the probe's label prefetch). Threads
    * are made as needed, so nested and concurrent callers never wait on a
    * busy pool; daemon threads, so an idle process never blocks JVM exit. */
  private[graft] lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "cohort-chain"); t.setDaemon(true); t }))

  /** A chain's pairs, counted before any is built. */
  private final case class Pairs(n: Long, build: () => Seq[Candidate])

  /**
   * Candidates of `batch` (a local frame holding `LocalCandidates.KeyCols`)
   * against `idx`. Cohort fetches carry the job description
   * `jobLabel + <fetch>`. `budget` bounds the gated fetches' rows and the
   * pair count; past it the distributed fallback builds the pairs.
   */
  def run(spark: SparkSession, idx: Index, batch: DataFrame, cfg: DedupConfig,
      jobLabel: String, budget: Long = ConnectedComponents.LocalEdgeCap): Result = {
    import spark.implicits._
    implicit val ec: ExecutionContext = pool
    val sc = spark.sparkContext
    def fetch(label: String)(df: DataFrame): Array[Row] = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(jobLabel + label)
      try df.collect() finally sc.setJobDescription(prev)
    }
    // one job: a single partition under the limit, whose task stops after
    // budget + 1 rows (over many partitions a limit collects in rounds)
    def gated(label: String)(df: DataFrame): Option[Array[Row]] = {
      val rows = fetch(label)(df.coalesce(1).limit(math.min(budget + 1, Int.MaxValue.toLong).toInt))
      if (rows.length > budget) None else Some(rows)
    }
    // index rows sharing a (band, bkey) bucket with `fresh`, grouped with it
    def bucketsWith(label: String, index: DataFrame, fresh: Seq[(String, Int, Long)]) = {
      val keys = fresh.map(r => (r._2, r._3)).toSet
      (if (keys.isEmpty) Some(Array.empty[Row])
      else gated(label)(keyFiltered(index, "bkey", keys.map(_._2).toSeq))).map { rs =>
        LocalCandidates.buckets(rs.toSeq.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
          .filter(r => keys((r._2, r._3))) ++ fresh)
      }
    }
    // suffix index rows (id, norm, tier, k) on a (tier, k) of `fresh`
    def tierKeyed(label: String, index: DataFrame, fresh: Seq[(String, String, Int, Long)]) = {
      val keys = fresh.map(t => (t._3, t._4)).toSet
      (if (keys.isEmpty) Some(Array.empty[Row])
      else gated(label)(keyFiltered(index, "k", keys.map(_._2).toSeq))).map(_.toSeq
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .filter(t => keys((t._3, t._4))))
    }
    def tag(source: String)(pairs: Seq[(String, String)]) =
      pairs.map { case (s, d) => Candidate(s, d, source) }

    val rows = batch.select(LocalCandidates.KeyCols.map(col): _*).collect().toSeq
    def id(r: Row) = r.getString(0)
    val ids = rows.map(id)
    val isNew: String => Boolean = ids.toSet
    val keyCols = Candidates.ExactKeyCols

    // exact groups + minhash bands
    val fExact = Future {
      val keyed = batch.select((Seq("image_id") ++ keyCols).map(col): _*)
      // null-safe, as the rep map groups null keys together
      val matched = fetch("matched")(idx.groupReps.join(broadcast(keyed),
          keyCols.map(k => idx.groupReps(k) <=> keyed(k)).reduce(_ && _))
        .select(keyed("image_id"), idx.groupReps("rep")))
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val rep = matched ++ LocalCandidates.repTag(rows.filterNot(r => matched.contains(id(r)))
        .map(r => id(r) -> ((r.get(1), r.get(2), r.get(3), r.get(4), r.get(5)))))
      val exact = rows.collect { case r if rep(id(r)) != id(r) => (rep(id(r)), id(r)) }
      val banded = LocalCandidates.minhashBanded(rows.collect {
        case r if rep(id(r)) == id(r) => id(r) -> (if (r.isNullAt(6)) null else r.getSeq[Long](6))
      }, cfg)
      val pairs = bucketsWith("bandCohort", idx.banded, banded).map { bs =>
        Pairs(exact.size + LocalCandidates.pairCount(bs, isNew), () =>
          tag("exact")(exact) ++ tag("minhash")(LocalCandidates.pairsOf(bs, isNew)))
      }
      (rows.map(r => Row.fromSeq(r.toSeq.take(1 + keyCols.size) :+ rep(id(r)))), banded, pairs)
    }

    // phash groups + simhash bands; a null phash is no key
    val fSim = Future {
      val ph = rows.filterNot(_.isNullAt(5)).map(r => id(r) -> r.getLong(5))
      val phKeys = ph.map(_._2).distinct
      // one row per touched phash; coalesced, so the aggregate needs no
      // exchange and the lookup stays one job
      val oldMin = (if (phKeys.isEmpty) Array.empty[Row] else fetch("phashMin")(
        keyFiltered(idx.oldClean.select("phash", "image_id"), "phash", phKeys)
          .coalesce(1).groupBy("phash").agg(min("image_id"))))
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val prep = LocalCandidates.repTag(oldMin.toSeq.map(_.swap) ++ ph)
      val same = ph.collect { case (i, _) if prep(i) != i => (prep(i), i) }
      // reps of the batch's phashes the index has not seen
      val banded = LocalCandidates.simhashBanded(
        ph.filter { case (i, p) => !oldMin.contains(p) && prep(i) == i }, cfg)
      val pairs = bucketsWith("simCohort", idx.bandedSim, banded).map { bs =>
        Pairs(same.size + LocalCandidates.pairCount(bs, isNew), () =>
          tag("simhash")(same ++ LocalCandidates.pairsOf(bs, isNew)))
      }
      (banded, pairs)
    }

    // norm groups + suffix containment
    val fSub = Future {
      val norms = rows.map(r => id(r) -> r.getString(1))
      val touched = norms.map(_._2).filter(_ != null).distinct
      val oldRep = (if (touched.isEmpty) Array.empty[Row]
        else fetch("normReps")(keyFiltered(idx.normReps, "norm", touched)))
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val newTag = LocalCandidates.repTag(norms.filterNot(n => oldRep.contains(n._2)))
      val normRows = norms.map { case (i, n) => (i, n, oldRep.getOrElse(n, newTag(i))) }
      val newReps = normRows.collect { case (i, n, r) if i == r => (i, n) }
      val touchedReps = oldRep.toSeq.map(_.swap) ++ newReps
      val probes = LocalCandidates.probeEntries(touchedReps, cfg)
      val builds = LocalCandidates.suffixEntries(touchedReps)
      // r1: touched captions contained in any caption; r2: any caption
      // contained in a touched one (touched old reps come back from the
      // index too — the distinct drops the repeats)
      val fR1 = Future(tierKeyed("r1", idx.suffixBuilds, probes)
        .map(old => LocalCandidates.verifyJoin(probes, old ++ builds)))
      val fromR2 = tierKeyed("r2", idx.suffixProbes, builds)
        .map(old => LocalCandidates.verifyJoin(old ++ probes, builds))
      val pairs = for {
        r1 <- Await.result(fR1, 60.minutes); r2 <- fromR2
        relations = (r1 ++ r2).distinct
        // an old rep's old members pair only across a relation with a new
        // rep; every other member that can touch the batch is in it
        needOld = relations.flatMap { case (s, d) =>
          (if (isNew(d)) Seq(s) else Nil) ++ (if (isNew(s)) Seq(d) else Nil)
        }.filterNot(isNew).distinct
        oldMembers <- if (needOld.isEmpty) Some(Array.empty[Row])
          else gated("normCohort")(keyFiltered(idx.normMap, "nrep", needOld))
      } yield {
        val members = (oldMembers.toSeq.map(r => (r.getString(0), r.getString(1))) ++
          normRows.map(t => (t._1, t._3))).groupMap(_._2)(_._1)
        val mem = (r: String) => members.getOrElse(r, Nil)
        Pairs(LocalCandidates.expandCount(relations, mem, isNew), () =>
          tag("substring")(LocalCandidates.expandSubstring(relations, mem, isNew)))
      }
      (normRows, LocalCandidates.suffixEntries(newReps).map(t => (t._1, t._3, t._4)), pairs)
    }

    val (repMap, banded, exactPairs) = Await.result(fExact, 60.minutes)
    val (bandedSim, simPairs) = Await.result(fSim, 60.minutes)
    val (normMap, suffixKeys, subPairs) = Await.result(fSub, 60.minutes)
    val gens = Seq(exactPairs, simPairs, subPairs)
    val local =
      if (gens.forall(_.isDefined) && gens.flatten.map(_.n).sum <= budget)
        Some(spark.createDataset(gens.flatten.flatMap(_.build())).toDF())
      else None
    val (candidates, placement) = local.map((_, "local")).getOrElse {
      val keys = LocalCandidates.KeyCols.map(col)
      val (all, _) = graft.Dedup.candidatesPlaced(
        idx.oldClean.select(keys: _*).unionByName(batch.select(keys: _*)), cfg,
        Some(LocalCandidates.rowCap(cfg, budget)))
      (pairsTouching(all, ids.toDF("id")), "distributed")
    }
    Result(candidates, placement, repMap, normMap, banded, bandedSim, suffixKeys)
  }
}
