package graft.config

/**
 * All tunables of the dedup pipeline in one typed, immutable place.
 *
 * Threshold / weight values are pinned to the reference's configuration
 * (see BASELINE.md "parity config"):
 *   - block / flag thresholds 0.85 / 0.70: reference `app/config.py:28-29`,
 *     `app/services/duplicate_detector.py:30-31`
 *   - candidate prefilter = flag * 0.8: `app/services/similarity_engine.py:81-83`
 *   - hybrid weights content:metadata = 0.7:0.3: `similarity_engine.py:74`
 *   - cross-"region" penalty -0.05 (clamped at 0): `similarity_engine.py:209-233`
 *   - top-k 10, candidate fetch k*2: `duplicate_detector.py:77`, `similarity_engine.py:53`
 *   - recurring tag at >= 3 duplicates of one parent: `duplicate_detector.py:332`
 *
 * MinHash/LSH parameters are derived, not guessed: with signature length
 * n = bands*rowsPerBand, the probability that a pair with Jaccard s shares
 * at least one band is 1 - (1 - s^r)^b.  b=32, r=4 gives P(0.70) ≈ 0.9984
 * and P(0.85) ≈ 0.99999988, i.e. recall well above the 0.99 gate at the
 * flag threshold, while pairs at s=0.3 collide with P ≈ 0.23 (cheaply
 * rejected by exact-Jaccard verification).
 *
 * RECALL GUARANTEE IS CONDITIONAL ON content Jaccard >= flagThreshold.
 * The edge rule passes at HYBRID >= 0.70, and with metaSim = 1.0 that
 * admits content Jaccard down to (flag - metadataWeight)/contentWeight
 * ≈ 0.571, where P(candidate) is only ≈ 0.97. Closing that gap inside the
 * MinHash pass alone is not economical: pushing P(0.571) >= 0.99 needs
 * r <= 3, and at r=3 (b=42) a random pair at s=0.3 becomes a candidate
 * with P ≈ 0.68 — the verification stage degenerates toward all-pairs at
 * web scale. Meta-boosted borderline pairs are instead largely covered by
 * the OTHER generators (exact, substring, phash-SimHash: identical
 * metadata usually accompanies same-image or containment duplicates), and
 * the residual miss probability applies only to the band
 * s ∈ [0.571, 0.70) × metaSim ≈ 1.0. PipelineSpec's borderline-corpus test
 * pins this behavior: every pair with content_sim >= 0.70 must be found;
 * sub-0.70-content hybrid edges are reported, not guaranteed.
 */
final case class DedupConfig(
    // similarity thresholds (reference parity)
    blockThreshold: Double = 0.85,
    flagThreshold: Double = 0.70,
    prefilterFactor: Double = 0.8, // prefilter = flagThreshold * 0.8
    contentWeight: Double = 0.7,
    metadataWeight: Double = 0.3,
    crossOrientationPenalty: Double = 0.05,
    topK: Int = 10,
    recurringMinDuplicates: Int = 3,
    // text shingling / MinHash
    shingleSize: Int = 3, // word shingles
    numHashes: Int = 128,
    bands: Int = 32, // rowsPerBand = numHashes / bands = 4
    hashSeed: Long = 42L, // matches Spark's builtin xxhash64 default seed
    // image side: SimHash bands over the 64-bit phash. Candidates join on
    // `phashAgree`-slice combo keys => perfect recall for
    // Hamming <= phashBands - phashAgree, false-positive rate
    // C(bands,agree)/2^(agree*8) per random pair. The FP floor is
    // n²·rate — quadratic in corpus size — so `agree` must grow with n:
    // 2-of-8 (4.3e-4) made ~4 FP candidates/row at 20k rows; 3-of-8
    // (3.3e-6) made ~350k FP pairs at 500k rows; 4-of-8 (1.6e-8) is the
    // web-scale default. The verification radius moves with it
    // (engine and oracle share the config, so cluster parity is preserved
    // by construction at any setting).
    phashBands: Int = 8,
    phashAgree: Int = 4,
    maxHamming: Int = 4, // = phashBands - phashAgree: inside the guarantee
    // substring pass: a caption must be at least this long (normalized
    // chars) to count as a substring-duplicate of another. 32 is both a
    // semantic choice (shorter fragments are noise, not duplicates) and the
    // scale lever: the suffix join keys on the first `substringMinLen`
    // chars, and short keys over a small vocabulary are shared by hundreds
    // of captions (12-char keys produced ~17M false join hits at 500k rows)
    substringMinLen: Int = 32,
    // skew handling: buckets larger than this split into the salted grid
    // (the grid derives its own salt-group count from the bucket size, so
    // no separate salt factor exists)
    bucketSizeCap: Int = 64,
    // quality gate (reference `app/services/quality_checker.py:33-135`)
    minCaptionLen: Int = 10,
    minUniqueTokenRatio: Double = 0.3,
    maxSpecialCharRatio: Double = 0.3,
    // clustering. maxCcIterations is an OBSERVATION budget, not a truncation
    // knob: ConnectedComponents throws if no fixpoint is seen within it.
    // The generator-derived diameter bound (every generator links members
    // through min-id star representatives, so components are chains of
    // star centers a few hops long) keeps plain propagation comfortably
    // inside 50; ccPointerJump=true switches to path halving (O(log d)
    // rounds, +1 shuffle per round) for edge sets that break the bound —
    // hand-chained QA force-links, external edge tables.
    maxCcIterations: Int = 50,
    ccPointerJump: Boolean = false,
    /** The one size gate between driver and cluster work; every driver cap
      * derives from it, and 0 keeps every gated step on the cluster:
      *  - `runAdaptive` collects up to `driverBudget` edges for its
      *    union-find (~60 B of transient Row boxing each, ~60 MB);
      *  - the candidates row gate, `LocalCandidates.rowCap`, is the budget
      *    over the band keys one row holds: 9,803 rows, where 9,702 clean
      *    Synth rows measured 2.2 s on the driver against 3.1–10.3 s
      *    distributed (4 vCPU); the twins and the cohort build at most
      *    `driverBudget` pairs;
      *  - the salted joins row-broadcast up to 2× the budget in
      *    non-singleton keys and filter through a broadcast `LongSet` up to
      *    16×, that far up because losing the filter is a cliff: at 4M
      *    images a 2.2M key set crossed a shared 2M gate and the candidates
      *    stage went 10.6× for 4× rows (BENCH/BASELINE.md, round 4f). */
    driverBudget: Long = 1000000L
) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  require(maxHamming <= phashBands - phashAgree,
    "combo-key banding only guarantees recall for Hamming <= phashBands-phashAgree")
  def rowsPerBand: Int = numHashes / bands
  def prefilterThreshold: Double = flagThreshold * prefilterFactor

  /** P(pair with Jaccard s becomes an LSH candidate) = 1-(1-s^r)^b. */
  def candidateProbability(s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
}

object DedupConfig {
  val default: DedupConfig = DedupConfig()
}
