package graft.pairs

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.config.DedupConfig
import graft.sig.{MinHash, SimHash, SuffixDup}

/** One candidate pair — a row of the candidates stage. */
final case class Candidate(src: String, dst: String, source: String)

/**
 * Driver-side twins of the candidate generators, shared by the pipeline's
 * candidates stage (when the clean batch fits `cfg.driverBudget`) and the
 * batch-local derivations of `Cohort`, which append and probe run.
 *
 * A small batch's candidates are a job-count floor, not data: the
 * distributed generators cost about 35 Spark jobs (size-agg counts, key
 * collects, AQE stages) for a 1,000-row batch. The twins compute the same
 * values in driver Scala with the SAME primitives the Column forms call
 * (MinHash.signature/bandKeys, SimHash.comboKeys, XXH64 over UTF8String
 * bytes — bit parity pinned by SigSpec), so the only Spark work left is the
 * bounded collect of the batch's key columns. CandidatesSpec pins local ==
 * distributed candidate multisets; ResumeSpec (append ≡ full recompute)
 * covers the cohort's use.
 *
 * Ids are ordered the way Spark orders strings (`compareIds`), never with
 * `String.<`: the twins must pick the same min-id reps and the same src/dst
 * orientation as `min`, `least`/`greatest` and CellPairs.
 */
object LocalCandidates {

  /** Spark's string order: UTF-8 byte order, which for well-formed strings
    * is code-point order. `String.compareTo` is UTF-16 order, which puts a
    * supplementary character (a surrogate pair, U+D800..U+DFFF units) below
    * U+E000..U+FFFF — "😀" < "Ａ" in UTF-16, "Ａ" < "😀" in Spark. At the
    * first differing unit, lifting surrogates above that range (ICU's
    * code-point-order fix-up) gives code-point order. */
  def compareIds(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i); val y = b.charAt(i)
      if (x != y) return if (x >= 0xD800 && y >= 0xD800) lift(x) - lift(y) else x - y
      i += 1
    }
    a.length - b.length
  }

  private def lift(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000

  /** (a, b) oriented min-first in Spark's order — `least`/`greatest`. */
  private def ordered(a: String, b: String): (String, String) =
    if (compareIds(a, b) <= 0) (a, b) else (b, a)

  private def xxhSub(u: UTF8String, pos: Int, len: Int): Long = {
    val s = u.substringSQL(pos, len)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
  }

  /** Min-id representative per key — `Candidates.repTag`'s group-min (null
    * keys group together, as its null-safe join does). Returns id -> rep. */
  def repTag[K](rows: Seq[(String, K)]): Map[String, String] = {
    val mins = mutable.HashMap.empty[K, String]
    rows.foreach { case (id, k) =>
      if (mins.get(k).forall(compareIds(id, _) < 0)) mins(k) = id
    }
    rows.iterator.map { case (id, k) => id -> mins(k) }.toMap
  }

  /** Twin of `Candidates.minhashBanded` (posexplode of band keys):
    * (id, band, bkey) rows for every rep with non-empty shingles. */
  def minhashBanded(rows: Seq[(String, Seq[Long])],
      cfg: DedupConfig): Seq[(String, Int, Long)] = {
    val cs = MinHash.coeffs(cfg.numHashes, cfg.hashSeed)
    rows.flatMap { case (id, sh) =>
      if (sh == null || sh.isEmpty) Nil
      else MinHash.bandKeys(MinHash.signature(sh.toArray, cs), cfg.bands, cfg.hashSeed)
        .iterator.zipWithIndex.map { case (k, b) => (id, b, k) }.toSeq
    }
  }

  /** Twin of `Candidates.simhashBanded`: (id, band, combo key) rows. */
  def simhashBanded(rows: Seq[(String, Long)],
      cfg: DedupConfig): Seq[(String, Int, Long)] =
    rows.flatMap { case (id, ph) =>
      SimHash.comboKeys(ph, cfg.phashBands, cfg.phashAgree)
        .iterator.zipWithIndex.map { case (k, b) => (id, b, k) }
    }

  /** Twin of `SuffixDup.probeEntries`: widest covered tier + prefix key,
    * hashed over the same UTF8 bytes `xxhash64(substr)` hashes. */
  def probeEntries(reps: Seq[(String, String)],
      cfg: DedupConfig): Seq[(String, String, Int, Long)] =
    reps.flatMap { case (id, norm) =>
      val u = if (norm == null) null else UTF8String.fromString(norm)
      val n = if (u == null) 0 else u.numChars()
      if (n >= cfg.substringMinLen && SuffixDup.Tiers.exists(n >= _)) {
        val tier = SuffixDup.Tiers.filter(n >= _).max
        Seq((id, norm, tier, xxhSub(u, 1, tier)))
      } else Nil
    }

  /** Twin of `SuffixDup.suffixEntries`: one key per (token-aligned suffix,
    * covered tier), deduped on (b_id, tier, k). Token starts are code-point
    * positions, matching the Column form's char arithmetic. */
  def suffixEntries(reps: Seq[(String, String)]): Seq[(String, String, Int, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, String, Int, Long)]
    reps.foreach { case (id, norm) => if (norm != null) {
      val u = UTF8String.fromString(norm)
      val cps = norm.codePoints().toArray
      val n = cps.length
      val starts = mutable.ArrayBuffer(1)
      var i = 0
      while (i < n) { if (cps(i) == ' '.toInt) starts += i + 2; i += 1 }
      val seen = mutable.HashSet.empty[(Int, Long)]
      starts.foreach { p =>
        val rem = n - p + 1
        if (rem >= SuffixDup.Tiers.head) SuffixDup.Tiers.foreach { t =>
          if (rem >= t) {
            val k = xxhSub(u, p, t)
            if (seen.add((t, k))) out += ((id, norm, t, k))
          }
        }
      }
    }}
    out.toSeq
  }

  /** Twin of `SuffixDup.verifyJoin`: probes (a_id, a_norm, tier, k) meet
    * builds (b_id, b_norm, tier, k) on (tier, k); a pair is kept when a's
    * caption occurs in b's, token-aligned at both ends, and differs from
    * it. Returns (src = a_id, dst = b_id). */
  def verifyJoin(probes: Seq[(String, String, Int, Long)],
      builds: Seq[(String, String, Int, Long)]): Seq[(String, String)] = {
    val byKey = builds.groupBy(b => (b._3, b._4))
    probes.flatMap { case (a, aNorm, t, k) =>
      val needle = s" $aNorm "
      byKey.getOrElse((t, k), Nil).collect {
        case (b, bNorm, _, _) if a != b && aNorm != bNorm && s" $bNorm ".contains(needle) =>
          (a, b)
      }
    }
  }

  /** Twin of `Candidates.expandSubstringPairs`: a containment pair of norm
    * reps (s, d) pairs every member of s with d and every member of d with
    * s, min-first. `members` maps a rep to all its rows, the rep included. */
  def expandSubstring(relations: Seq[(String, String)], members: String => Seq[String],
      touches: String => Boolean = All): Seq[(String, String)] =
    relations.flatMap(expansions(_, members, touches).map { case (a, b) => ordered(a, b) })

  /** How many pairs `expandSubstring` builds, counted without building them. */
  def expandCount(relations: Seq[(String, String)], members: String => Seq[String],
      touches: String => Boolean = All): Long =
    relations.iterator.map(expansions(_, members, touches).size.toLong).sum

  private def expansions(rel: (String, String), members: String => Seq[String],
      touches: String => Boolean): Iterator[(String, String)] = {
    val (s, d) = rel
    (members(s).iterator.map((_, d)) ++ members(d).iterator.map((s, _)))
      .filter { case (a, b) => a != b && (touches(a) || touches(b)) }
  }

  /** The pair filter that keeps every pair. */
  val All: String => Boolean = _ => true

  /** Ids per shared (band, key) bucket, for buckets of two or more rows —
    * grouped once, then counted and expanded by `pairsOf`. */
  private[pairs] def buckets(rows: Seq[(String, Int, Long)]): Iterable[mutable.ArrayBuffer[String]] = {
    val byKey = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[String]]
    rows.foreach { case (id, band, k) =>
      byKey.getOrElseUpdate((band, k), mutable.ArrayBuffer.empty[String]) += id
    }
    byKey.values.filter(_.size > 1)
  }

  /** Pairs of `pairsOf`, counted from each bucket's split: n ids that
    * `touches` accepts and o that it does not hold C(n, 2) + n·o pairs. */
  private[pairs] def pairCount(bs: Iterable[mutable.ArrayBuffer[String]],
      touches: String => Boolean = All): Long =
    bs.iterator.map { b =>
      val n = b.count(touches).toLong
      n * (n - 1) / 2 + n * (b.size - n)
    }.sum

  /** Same-bucket pairs with at least one id that `touches` accepts, built
    * from the bucket's split: a bucket of m index rows and one batch row
    * costs m pairs, not the m²/2 of building every pair and filtering. */
  private[pairs] def pairsOf(bs: Iterable[mutable.ArrayBuffer[String]],
      touches: String => Boolean = All): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    bs.foreach { b =>
      val (hit, rest) = b.partition(touches)
      var i = 0
      while (i < hit.length) {
        var j = i + 1
        while (j < hit.length) { out += ordered(hit(i), hit(j)); j += 1 }
        rest.foreach(o => out += ordered(hit(i), o))
        i += 1
      }
    }
    out.toSeq
  }

  /** Twin of the salted grid join: all unordered same-bucket pairs,
    * min-first, one per shared bucket — the pair multiset
    * `Candidates.saltedSelfJoin` emits (CandidatesSpec pins grid == naive
    * self-join; the cap only spreads distributed work, never changes it) —
    * restricted to the pairs with an id that `touches` accepts. */
  def bucketPairs(rows: Seq[(String, Int, Long)],
      touches: String => Boolean = All): Seq[(String, String)] =
    pairsOf(buckets(rows), touches)

  /** The clean batch's key columns, in the order `candidates` reads them. */
  val KeyCols: Seq[String] = Seq("image_id", "norm", "w", "h", "fmt", "phash", "shingles")

  /** Row bound of the driver path: `cfg.driverBudget` over the band keys
    * one row holds — `bands` minhash keys plus C(phashBands, phashAgree)
    * combo keys, 9,803 rows at the defaults. Measured on 4 vCPUs (collect,
    * twins and write of the stage, two rounds): 9,702 clean Synth rows with
    * the hot caption took 2.2 s on the driver against 3.1–10.3 s
    * distributed; 988k pairs from 249 rows took 5.2–5.4 s against
    * 3.6–6.3 s, with a sampled heap peak under 1.2 GB. */
  def rowCap(cfg: DedupConfig): Long =
    cfg.driverBudget /
      (cfg.bands + SimHash.subsets(cfg.phashBands, cfg.phashAgree).size)

  /**
   * `Dedup.candidates` over rows of `KeyCols`, in driver Scala: exact rep
   * tagging, minhash bands over the exact reps, same-phash plus combo-band
   * pairs over distinct phashes (a null phash gets neither), and suffix
   * probe/build, containment check and member expansion over distinct
   * norms. Same (src, dst, source) multiset as the distributed form. None
   * when the pairs would pass `cfg.driverBudget`: the bucket and expansion
   * sizes are counted before any pair is built.
   */
  def candidates(rows: Seq[Row], cfg: DedupConfig): Option[Seq[Candidate]] = {
    def id(r: Row) = r.getString(0)
    val rep = repTag(rows.map(r => id(r) -> ((r.get(1), r.get(2), r.get(3), r.get(4), r.get(5)))))
    val exact = rows.collect { case r if rep(id(r)) != id(r) => (rep(id(r)), id(r)) }
    val mhBanded = minhashBanded(rows.collect {
      case r if rep(id(r)) == id(r) => id(r) -> (if (r.isNullAt(6)) null else r.getSeq[Long](6))
    }, cfg)

    val ph = rows.filterNot(_.isNullAt(5)).map(r => id(r) -> r.getLong(5))
    val prep = repTag(ph)
    val samePhash = ph.collect { case (i, _) if prep(i) != i => (prep(i), i) }
    val simBanded = simhashBanded(ph.filter { case (i, _) => prep(i) == i }, cfg)

    val norms = rows.filterNot(_.isNullAt(1)).map(r => id(r) -> r.getString(1))
    val nrep = repTag(norms)
    val normReps = norms.filter { case (i, _) => nrep(i) == i }
    val relations = verifyJoin(probeEntries(normReps, cfg), suffixEntries(normReps))
    val members = nrep.toSeq.groupMap(_._2)(_._1)
    def membersOf(r: String) = members.getOrElse(r, Nil)

    val (mhBuckets, simBuckets) = (buckets(mhBanded), buckets(simBanded))
    val pairs = exact.size.toLong + samePhash.size + pairCount(mhBuckets) +
      pairCount(simBuckets) +
      relations.iterator.map { case (s, d) => membersOf(s).size.toLong + membersOf(d).size }.sum
    if (pairs > cfg.driverBudget) None
    else Some(
      exact.map { case (s, d) => Candidate(s, d, "exact") } ++
        pairsOf(mhBuckets).map { case (s, d) => Candidate(s, d, "minhash") } ++
        (samePhash ++ pairsOf(simBuckets)).map { case (s, d) => Candidate(s, d, "simhash") } ++
        expandSubstring(relations, membersOf).map { case (s, d) => Candidate(s, d, "substring") })
  }
}
