package graft.oracle

import scala.collection.mutable

import graft.config.DedupConfig
import graft.pairs.{LocalCandidates, Meta}
import graft.quality.Quality
import graft.sig.{Shingle, SimHash, SuffixDup}

final case class OracleRow(
    id: String, caption: String, w: Int, h: Int, fmt: String, phash: Long)

final case class OracleOutcome(
    id: String, decision: String, parent: Option[String], score: Double, cluster: String)

/**
 * Single-threaded O(n²) re-execution of the reference's decision sequence
 * (`app/services/duplicate_detector.py:51-97` + `similarity_engine.py:32-104`),
 * extended with the north rule's image (phash Hamming) and substring rules —
 * the SAME three measures, shingle config and thresholds as the Spark
 * pipeline, computed with the SAME scalar functions (Shingle/Meta/SimHash
 * are shared code), but composed the way the reference composes them:
 *
 *   rows processed in arrival (id) order; each row is scored against the
 *   accumulated store of prior rows; best score >= 0.85 → BLOCKED (linked to
 *   parent but NOT added to the store — the reference never creates the bug,
 *   so later rows can't match it); 0.70 <= best < 0.85 → DUPLICATE (created,
 *   linked, in store); else NEW. Quality-gated rows are quarantined first.
 *
 * Clusters are the union-find closure of the parent links (the reference's
 * star forest). This is the ground truth for the dup-pair recall >= 0.99
 * gate (BASELINE.json): the distributed pipeline must reproduce these
 * groupings despite computing order-independent connected components.
 */
object NaiveOracle {

  def run(rows: Seq[OracleRow], cfg: DedupConfig = DedupConfig.default): Seq[OracleOutcome] = {
    // ids in Spark's string order (code points), as the engine orders them
    val before = (a: String, b: String) => LocalCandidates.compareIds(a, b) < 0
    val sorted = rows.sortWith((a, b) => before(a.id, b.id))
    val parent = mutable.Map[String, String]() // union-find
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (before(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }

    final case class Stored(id: String, norm: String, shingles: Array[Long],
        w: Int, h: Int, fmt: String, phash: Long)
    val store = mutable.ArrayBuffer[Stored]()
    val out = mutable.ArrayBuffer[OracleOutcome]()

    for (r <- sorted) {
      val issues = Quality.issues(r.caption, cfg)
      if (Quality.isLowQuality(issues)) {
        out += OracleOutcome(r.id, "low_quality", None, 0.0, r.id)
      } else {
        val norm = Shingle.normalize(r.caption)
        val sh = Shingle.shingleHashes(r.caption, cfg.shingleSize)
        var bestScore = 0.0
        var bestId: Option[String] = None
        for (p <- store) {
          val content = Shingle.jaccard(sh, p.shingles)
          val meta = Meta.metaSim(r.w, r.h, r.fmt, p.w, p.h, p.fmt)
          val hybrid = Meta.hybrid(content, meta, r.w, r.h, p.w, p.h, cfg)
          val ham = SimHash.hamming(r.phash, p.phash)
          val imageSim = if (ham <= cfg.maxHamming) SimHash.hammingSim(r.phash, p.phash) else 0.0
          val substr = SuffixDup.isTokenAlignedSubstring(norm, p.norm, cfg) ||
            SuffixDup.isTokenAlignedSubstring(p.norm, norm, cfg)
          val score = math.max(hybrid, math.max(imageSim, if (substr) cfg.flagThreshold else 0.0))
          if (score > bestScore || (score == bestScore && bestId.exists(before(p.id, _)))) {
            bestScore = score
            bestId = Some(p.id)
          }
        }
        if (bestScore >= cfg.blockThreshold) {
          // blocked: linked to parent, NOT stored (reference never creates it)
          union(r.id, bestId.get)
          out += OracleOutcome(r.id, "blocked", bestId, bestScore, "")
        } else if (bestScore >= cfg.flagThreshold) {
          union(r.id, bestId.get)
          store += Stored(r.id, norm, sh, r.w, r.h, r.fmt, r.phash)
          out += OracleOutcome(r.id, "duplicate", bestId, bestScore, "")
        } else {
          store += Stored(r.id, norm, sh, r.w, r.h, r.fmt, r.phash)
          out += OracleOutcome(r.id, "new", None, 0.0, "")
        }
      }
    }
    out.map(o => o.copy(cluster = if (o.decision == "low_quality") o.cluster else find(o.id))).toSeq
  }

  /** All unordered intra-cluster pairs implied by outcomes (dedup ground truth). */
  def intraClusterPairs(outcomes: Seq[OracleOutcome]): Set[(String, String)] =
    outcomes.filter(_.decision != "low_quality")
      .groupBy(_.cluster).values
      .flatMap { members =>
        val ids = members.map(_.id).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
}
