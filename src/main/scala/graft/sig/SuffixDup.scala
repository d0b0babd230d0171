package graft.sig

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.config.DedupConfig

/**
 * Exact-substring duplicate captions (north-rule "suffix-array pass").
 *
 * Semantics: caption A is a token-aligned exact substring of caption B
 * (A != B, |A| >= substringMinLen after normalization). Detected with a
 * distributed generalized-suffix construction expressed as a join — the
 * Spark-native equivalent of a suffix array lookup:
 *
 *   build side:  every token-aligned suffix of every caption, keyed by its
 *                first W characters (W = a prefix tier, see `Tiers`);
 *   probe side:  every caption of at least substringMinLen chars, keyed by
 *                its own first W characters;
 *   join on key, then verify `contains` (removes prefix-window collisions
 *                and enforces true substring containment).
 *
 * Keying by a fixed-width prefix bounds key cardinality and makes the join
 * a plain shuffle equi-join — at 10^12 rows the explode factor is
 * O(tokens per caption) ≈ 8-25, far cheaper than an actual distributed
 * suffix array, with identical results for token-aligned matches. The key
 * is the hash of the first `tier` characters on both sides: a probe keys on
 * the widest tier its length covers, and each suffix emits one key per tier
 * its remaining length covers. Any suffix that starts with the probe is at
 * least as long as the probe, so it emits the probe's key and the join
 * loses no true match; `verifyJoin` then drops hash and prefix collisions.
 */
object SuffixDup {

  /** Prefix-key tier ladder: a probe joins on the widest tier its length
    * covers; a suffix emits one key per tier its remaining length covers,
    * so the equi-join on (tier, key) loses no true match (any suffix that
    * starts with a probe is at least as long as the probe). Finer tiers
    * matter: with a small vocabulary, 12-char keys are shared by hundreds
    * of captions (measured ~17M contains-verifications at 500k rows);
    * each +8 chars multiplies selectivity by ~the vocabulary branching
    * factor. Keys are xxhash64 of the prefix — longs shuffle smaller than
    * prefix strings and the verify step re-checks real containment anyway. */
  val Tiers: Seq[Int] = Seq(32)

  /** Probe entries: (a_id, a_norm, tier, k) — each caption long enough to
    * be a meaningful substring, keyed on the widest tier its length covers. */
  def probeEntries(captions: DataFrame, cfg: DedupConfig): DataFrame = {
    require(Tiers.head <= cfg.substringMinLen,
      "smallest tier must not exceed substringMinLen (or probes shorter " +
        "than every tier would be silently dropped)")
    val probeTier = Tiers.reverse.tail.foldLeft(
      when(length(col("norm")) >= Tiers.last, lit(Tiers.last))) {
      (acc, t) => acc.when(length(col("norm")) >= t, lit(t))
    }
    captions
      .where(length(col("norm")) >= cfg.substringMinLen)
      .withColumn("tier", probeTier)
      .select(col("id").as("a_id"), col("norm").as("a_norm"), col("tier"),
        xxhash64(col("norm").substr(lit(1), col("tier"))).as("k"))
  }

  /** Build entries: (b_id, b_norm, tier, k) — a key per (token-aligned
    * suffix, covered tier), from character offsets — NOT materialized
    * suffix strings (those are O(len²) bytes per caption; offsets cut this
    * stage from 54s to single digits at 100k rows). The (b_id, tier, k)
    * projection is what the `suffix_keys` incremental index persists.
    * Keys dedup per row (a repeated phrase yields one key at two offsets):
    * with one row per id that is `dropDuplicates(b_id, tier, k)` unshuffled. */
  def suffixEntries(captions: DataFrame): DataFrame = {
    val tk = split(col("norm"), " ")
    val starts = slice(
      aggregate(tk, array(lit(1)),
        (acc, t) => concat(acc, array(element_at(acc, -1) + length(t) + lit(1)))),
      lit(1), size(tk))
    val suffixKeys = flatten(transform(
      filter(starts, p => length(col("norm")) - p + 1 >= Tiers.head),
      p => {
        val rem = length(col("norm")) - p + 1
        val entries = Tiers.map { t =>
          when(rem >= t,
            struct(lit(t).as("tier"), xxhash64(col("norm").substr(p, lit(t))).as("k")))
            .otherwise(lit(null))
        }
        filter(array(entries: _*), e => e.isNotNull)
      }))
    captions
      .select(col("id").as("b_id"), col("norm").as("b_norm"),
        explode(array_distinct(suffixKeys)).as("tk"))
      .select(col("b_id"), col("b_norm"), col("tk.tier").as("tier"), col("tk.k").as("k"))
  }

  /** Equi-join probes against suffix entries and verify real containment
    * (both-end token alignment). Asymmetric on purpose: the incremental
    * path passes only the affected slice of either side. No `distinct`: a
    * probe row has one (tier, k) and a build row's keys are distinct, so
    * with one row per id on each side an (a_id, b_id) matches at most once;
    * callers whose cohorts can repeat an id dedup the relations. */
  def verifyJoin(probe: DataFrame, suffixes: DataFrame, cfg: DedupConfig): DataFrame =
    probe
      .join(suffixes, Seq("tier", "k"))
      .where(col("a_id") =!= col("b_id"))
      // containment aligned to token boundaries at BOTH ends, verified on
      // full strings (identical rule to `isTokenAlignedSubstring` below).
      // Padding both sides with a space enforces the end boundary too —
      // "foo bar" must NOT count as contained in "foo barbaz". Recall is
      // unaffected: the suffix keys are prefixes of token-aligned suffixes,
      // and tightening only the verify step cannot lose a true match.
      .where(concat(lit(" "), col("b_norm"), lit(" "))
        .contains(concat(lit(" "), col("a_norm"), lit(" "))))
      .where(col("a_norm") =!= col("b_norm"))
      .select(col("a_id").as("src"), col("b_id").as("dst"))

  /**
   * Candidate (a, b) pairs where normalized caption of `a` is a token-aligned
   * substring of normalized caption of `b`, a != b. Input: DataFrame with
   * (id: long, norm: string) where norm is the normalized caption.
   * Output: (src_id, dst_id) with src_id != dst_id — containment pairs,
   * both orientations possible.
   */
  def substringPairs(captions: DataFrame, cfg: DedupConfig): DataFrame =
    verifyJoin(probeEntries(captions, cfg), suffixEntries(captions), cfg)

  /** Oracle-side containment check — same rule as the Spark verify above:
    * A occurs in B aligned to token boundaries at both ends, A != B,
    * A long enough. */
  def isTokenAlignedSubstring(aNorm: String, bNorm: String, cfg: DedupConfig): Boolean =
    aNorm.length >= cfg.substringMinLen && aNorm != bNorm &&
      (" " + bNorm + " ").contains(" " + aNorm + " ")
}
