package graft.pairs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.config.DedupConfig
import graft.sig.{MinHash, Shingle, SimHash, SuffixDup}

/**
 * Candidate-pair generation (the reference's FAISS top-k ANN search,
 * `app/utils/vector_store.py:71-103`, re-architected as shuffle equi-joins —
 * SURVEY.md §2.3 J3).
 *
 * Scale design:
 *  1. EXACT SHORT-CIRCUIT. Rows identical in every dedup-relevant feature
 *     (normalized caption, w, h, fmt, phash) are collapsed to their
 *     min-image_id representative before any LSH work. Members are linked to
 *     the rep by an unconditional edge (identical features → hybrid = 1.0).
 *     This is lossless — a member behaves identically to its rep in every
 *     downstream measure — and it removes the dominant skew source
 *     (boilerplate/hot captions) from the band join.
 *  2. MINHASH LSH over the reps: explode band keys, self-join on
 *     (band, key). Buckets above `bucketSizeCap` go through a salted
 *     grid join (see `saltedSelfJoin`) so no single reducer sees O(m²) work.
 *  3. SIMHASH over distinct phashes (agree-of-bands pigeonhole combo keys;
 *     perfect recall for Hamming <= bands-agree), plus same-phash pairs.
 *  4. SUBSTRING pass over distinct normalized captions, expanded back to
 *     members (the substring rule is a caption-level property).
 *
 * All generators emit (src, dst, source) with src < dst lexicographically;
 * union + distinct-by-pair happens in the pipeline.
 */
object Candidates {

  /** The exact-group key columns. */
  val ExactKeyCols: Seq[String] = Seq("norm", "w", "h", "fmt", "phash")

  /**
   * Min-id representative tagging: `groupBy(keys).agg(min(id))` + null-safe
   * join back on the keys — NEVER `min(id) OVER (PARTITION BY keys)`.
   *
   * The window form co-locates EVERY row of the hottest group on one task
   * with no remedy (windows cannot be split), and the rep maps sit exactly
   * where real corpora are most skewed: a boilerplate caption shared by 10⁹
   * rows would serialize the whole pipeline behind one reducer. The
   * groupBy's partial aggregation combines map-side (one row per group
   * reaches the reducers), and the join-back is an INNER shuffle join whose
   * hot probe partitions AQE skew-join splits at runtime — the reps side is
   * one row per group and replicates across splits. `shuffle_hash` pins the
   * reps side as the build side; it must never broadcast (group count scales
   * with the corpus — distinct captions at 10^12 rows).
   *
   * The join is null-safe (`<=>`) to preserve the window's null semantics
   * (null keys group together); for nullable key columns this re-wraps the
   * join keys, costing one extra exchange of the one-row-per-group side.
   *
   * Grouping is on the RAW columns, not a 64-bit hash of them: at 10^12
   * rows a 64-bit key expects ~50k collisions (n²/2^65), each of which
   * would silently merge unrelated rows into one group.
   */
  def repTag(df: DataFrame, keys: Seq[String], idCol: String, repName: String): DataFrame = {
    // reps-side keys renamed before the join: both sides share lineage (a
    // self-derived aggregate), and attribute-bound refs would be ambiguous
    val reps = df.groupBy(keys.map(col): _*).agg(min(col(idCol)).as(repName))
      .select(keys.map(k => col(k).as(s"__rk_$k")) :+ col(repName): _*)
    val cond = keys.map(k => col(k) <=> col(s"__rk_$k")).reduce(_ && _)
    df.join(reps.hint("shuffle_hash"), cond)
      .select(df.columns.toIndexedSeq.map(col) :+ col(repName): _*)
  }

  /** Rep map WITH the key columns kept — persisted as the `rep_map` stage so
    * an incremental batch can match new rows to existing groups without
    * re-deriving the full table. Computed over a PROJECTION of the key
    * columns only — the shuffle carries ~80B/row instead of the full
    * feature row with its shingle array (measured 462MB vs ~80MB at 500k
    * rows). */
  def exactRepMapFull(features: DataFrame): DataFrame =
    repTag(features.select((Seq("image_id") ++ ExactKeyCols).map(col): _*),
      ExactKeyCols, "image_id", "rep")

  def exactRepMap(features: DataFrame): DataFrame =
    exactRepMapFull(features).select(col("image_id"), col("rep"))

  /** Unconditional member→rep pairs from exact groups. */
  def exactPairs(repMap: DataFrame): DataFrame =
    repMap.where(col("image_id") =!= col("rep"))
      .select(col("rep").as("src"), col("image_id").as("dst"), lit("exact").as("source"))

  /**
   * All unordered pairs of ids sharing a (band, key) bucket — the LSH
   * candidate join — with buckets larger than `cap` split into a salted
   * grid so no reducer sees more than ~2·cap rows.
   *
   * Shape: bucket sizes come from a partial-agg `groupBy(band,bkey).count()`
   * — NOT a count window. A `count(*) OVER (PARTITION BY band,bkey)` would
   * co-locate EVERY occurrence of the hottest key on one task with no
   * remedy (windows cannot split); the size tag-back here is an INNER
   * shuffle join against the aggregated sizes, whose hot partitions AQE
   * skew-join splits at runtime (the sizes side is one row per key and
   * replicates across splits). The inner join doubles as the singleton
   * filter: buckets of one row (the overwhelming majority under selective
   * keys) never reach the grid shuffle or its per-group machinery —
   * measured at 70M combo keys per 1M images, dropping them pre-grid is
   * ~1,400 CPU-s of per-group aggregation overhead.
   *
   * Each surviving row replicates to grid cells (g = ceil(m/cap) salt
   * groups, g=1 for small buckets): (si=own salt, sj >= si) as 'l' and
   * (si < own salt, sj=own salt) as 'r' — the 'r' range is EXCLUSIVE of
   * the own cell: self-cells pair from the sorted 'l' list alone, so the
   * old inclusive right row was pure redundant traffic. ONE
   * groupBy(band,key,si,sj) collects the cell and pair expansion happens
   * in codegen'd array expressions: same-cell (si==sj) pairs i<j over the
   * sorted 'l' list, cross-cell pairs l×r. Exactly the naive self-join's
   * pair set (asserted in CandidatesSpec). Group size is bounded by 2·cap,
   * so collect_list cannot OOM a reducer.
   *
   * Why not a plain self-join: it materializes and shuffles the banded
   * table once per side per branch — measured 4 shuffles of 90MB and ~800
   * CPU-s at 5M banded rows; this shape shuffles banded twice (size join +
   * grid) at ~1/10 the CPU.
   *
   * `banded` is consumed twice (size agg + tagging): callers whose band
   * lineage is expensive to recompute (MinHash signatures, hyperplane
   * sketches) persist the PRE-explode sketch through the Caches registry —
   * caching the exploded rows themselves measured ~2x wall on low-core
   * runs in columnar cache build alone. A checkpointed band index (the
   * incremental layout's `banded` stage) serves the same role at cluster
   * scale.
   *
   * `sizes`, when given, must hold (band, bkey, m) for AT LEAST every key
   * with m >= 2 (extra keys are harmless — the join is inner on banded).
   * q21 passes its shingle-df aggregate so one pass serves both the
   * boilerplate cap and the salt assignment. Past `broadcastKeyCap`
   * non-singleton keys the tag join is a shuffle-hash join.
   */
  def saltedSelfJoin(banded: DataFrame, cap: Int,
      sizes: Option[DataFrame] = None,
      broadcastKeyCap: Long = BroadcastKeyCap): DataFrame = {
    val (nonSingleton, nsKeys) = nonSingletonKeys(banded, sizes)
    val bcast = nsKeys <= broadcastKeyCap
    System.err.println(s"[saltedSelfJoin] nonSingleton keys=$nsKeys broadcast=$bcast")
    val tagJoin =
      if (bcast) broadcast(nonSingleton)
      else nonSingleton.hint("shuffle_hash")
    gridPairs(banded.join(tagJoin, Seq("band", "bkey")), cap)
  }

  /**
   * The salted self-join over a PRE-EXPLODE sketch `(id, bks: array<long>)`
   * where the array position is the band — the shape both image-side
   * generators (MinHash band keys, SimHash combo keys) naturally produce.
   *
   * Same pair set as `saltedSelfJoin(sketch explode, cap)` (CandidatesSpec
   * pins parity), but on the broadcast branch the tag pass never
   * materializes the explosion: the non-singleton keys collect to the
   * driver (count-gated <= BroadcastKeyCap, ~8B/key), broadcast as an
   * open-addressing `LongSet`, and `FilteredBandKeys` emits only the
   * surviving (band, bkey) rows — measured 64M exploded rows reduced to
   * ~158k at 1M images, removing the second of the two ~14s explode passes
   * that dominate the join (the exchanges themselves were measured ~7%).
   * The size-agg pass still explodes everything (global counts need every
   * key); above the cap the generic shuffle shape applies unchanged.
   */
  def saltedSelfJoinSketch(sketch: DataFrame, cap: Int,
      broadcastKeyCap: Long = BroadcastKeyCap,
      filterKeyCap: Long = FilterKeyCap): DataFrame = {
    val banded = sketch.select(col("id"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    val (nonSingleton, nsKeys) = nonSingletonKeys(banded, None)
    // Two independent gates, because their budgets differ by an order of
    // magnitude. (a) The LongSet GENERATOR FILTER needs only 8B/key of
    // broadcast payload, so it stays affordable far past the row-broadcast
    // cap — and losing it is catastrophic, not incremental: the fallback
    // re-materializes the full band explode (bands x reps rows) AND
    // shuffles it. Measured at 4M images: the minhash key set (2.2M)
    // crossed the old single 2M gate and graft:candidates went 10.6x for
    // 4x rows (620 -> 6,580 run-core-s), dragging 8c scaling efficiency
    // from 0.744 to 0.545. (b) The m-ATTACH join broadcasts whole rows
    // (~40B unsafe each); above `broadcastKeyCap` it becomes a shuffle
    // join — but of the FILTERED survivors (the interesting-collision
    // rows) against the key set, both tiny next to the explode.
    // Past `filterKeyCap` (driver-collect budget, ~8B/key + transient Row
    // boxing) the full shuffle shape is the honest asymptote: at 10^12
    // rows the non-singleton set scales with the corpus and no driver
    // holds it; band width is the build parameter that keeps it sane.
    System.err.println(s"[saltedSelfJoin] nonSingleton keys=$nsKeys " +
      s"filter=${nsKeys <= filterKeyCap} broadcast=${nsKeys <= broadcastKeyCap}")
    val tagged =
      if (nsKeys > filterKeyCap)
        banded.join(nonSingleton.hint("shuffle_hash"), Seq("band", "bkey"))
      else {
        val mixed = nonSingleton.select(col("band"), col("bkey")).collect()
          .map(r => FilteredBandKeys.mix(r.getInt(0), r.getLong(1)))
        val bset = sketch.sparkSession.sparkContext
          .broadcast(graft.util.LongSet(mixed))
        val mAttach = if (nsKeys <= broadcastKeyCap) broadcast(nonSingleton)
                      else nonSingleton.hint("shuffle_hash")
        // inner join on the REAL key columns drops mix-collision false
        // positives and attaches m
        sketch.select(col("id"), FilteredBandKeys.col(col("bks"), bset))
          .join(mAttach, Seq("band", "bkey"))
      }
    gridPairs(tagged, cap)
  }

  /** Non-singleton (band, bkey, m) keys of `banded`, persisted, plus their
    * count (the callers' gate input).
    *
    * The FULL size table scales with the key count and must never be
    * broadcast (AQE's runtime conversion tried exactly that and blew
    * driver.maxResultSize at 1M images) — but the NON-SINGLETON subset is
    * the interesting-collision set, measured ~79k keys per 1M images
    * against 64M banded rows. When it fits (count gated, not guessed),
    * the tag join is map-side and only tagged survivors reach the grid
    * exchange. Above the caps the shuffle_hash shape kicks in: the agg
    * output is already hash-partitioned on (band,bkey), so the join reuses
    * its exchange and only `banded` shuffles. The count() is one action
    * over the size agg; the agg is persisted so no branch recomputes it. */
  private def nonSingletonKeys(banded: DataFrame,
      sizes: Option[DataFrame]): (DataFrame, Long) = {
    val nonSingleton = graft.util.Caches.persist(
      sizes.getOrElse(
        banded
          .groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("m")))
        .where(col("m") >= 2)
        .select(col("band"), col("bkey"), col("m")))
    (nonSingleton, nonSingleton.count())
  }

  /** Grid-cell pair emission over the size-tagged non-singleton rows
    * `(band, bkey, id, m)` — salt assignment, fused l/r cell explode, one
    * groupBy per cell, CellPairs generator. */
  private def gridPairs(taggedBase: DataFrame, cap: Int): DataFrame = {
    val tagged = taggedBase
      .withColumn("g",
        when(col("m") <= cap, lit(1))
          .otherwise(ceil(col("m").cast("double") / cap)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("id")), col("g")).cast("int"))

    // One fused emission pass: each row explodes both its 'l' cells
    // (si=own salt, sj in [salt, g-1]) and its 'r' cells (si in
    // [0, salt-1], sj=own salt) from a single projection — the former
    // left/right union computed the tag join TWICE (two branches over the
    // same exchange; with the broadcast shape it would recompute the full
    // banded lineage twice). The per-row transform is O(g) structs (g=1,
    // a single 'l' struct, for every under-cap bucket) — nothing like the
    // k² HOF pair emission CellPairs replaced. Guard: sequence(0, -1)
    // DESCENDS, not empties — salt-0 rows emit no 'r' cells at all.
    val cells = tagged.select(col("band"), col("bkey"), col("id"),
      explode(concat(
        transform(sequence(col("salt"), col("g") - 1),
          sj => struct(col("salt").as("si"), sj.as("sj"), lit(true).as("l"))),
        transform(
          when(col("salt") > 0, sequence(lit(0), col("salt") - 1))
            .otherwise(array().cast("array<int>")),
          si => struct(si.as("si"), col("salt").as("sj"), lit(false).as("l")))
      )).as("cell"))
      .select(col("band"), col("bkey"), col("id"),
        col("cell.si").as("si"), col("cell.sj").as("sj"),
        col("cell.l").as("side"))

    // pair emission is a custom streaming Generator (see CellPairs): the
    // HOF construction it replaces (nested transform + when + flatten +
    // filter + sort_array) was the hottest stage of the 1M pipeline —
    // k^2 struct allocations per self cell with half built only to be
    // nulled out, plus a per-cell sort the pair set never needed
    cells
      .groupBy(col("band"), col("bkey"), col("si"), col("sj"))
      .agg(
        collect_list(when(col("side"), col("id"))).as("ls"),
        collect_list(when(!col("side"), col("id"))).as("rs"))
      .select(CellPairs.col(col("ls"), col("rs"), col("si") === col("sj")))
  }

  /** Max non-singleton key count the salted joins will ROW-broadcast for
    * the tag / m-attach join (~40B/row unsafe → ~80MB). A caller's 0 forces
    * the shuffle shape (CandidatesSpec runs both). */
  val BroadcastKeyCap: Long = 2000000L

  /** Max non-singleton key count for the LongSet generator-filter pushdown
    * (8B/key in the broadcast set; the driver collect's transient Row boxing
    * is the practical bound). Deliberately far above `BroadcastKeyCap`:
    * losing the filter costs a full re-explode + shuffle of the banded
    * table, which measured as a 10.6x blowup of the candidate stage the
    * first time the key count crossed the old shared 2M gate (4M images,
    * BENCH/BASELINE.md round-4 4M section). */
  val FilterKeyCap: Long = 16000000L

  /** MinHash band-key projection of the reps: (id, band, bkey) — the LSH
    * index. Persisted as the `banded` stage so an incremental batch joins
    * its new keys against the index instead of re-sketching everything.
    *
    * The PRE-explode sketch (one band-key array per rep) is persisted, not
    * the exploded table: the signature computation above it is the
    * pipeline's hottest CPU and must run once (the salted join consumes
    * the band table twice), while the explode itself is trivial to
    * recompute — and caching the exploded rows (bands × reps of them)
    * measured ~2x wall on low-core runs purely in columnar cache build. */
  def minhashSketch(reps: DataFrame, cfg: DedupConfig): DataFrame =
    graft.util.Caches.persist(
      reps
        .where(col("shingles").isNotNull && size(col("shingles")) > 0)
        .select(col("image_id").as("id"),
          MinHash.bandKeysCol(
            MinHash.signatureCol(col("shingles"), cfg.numHashes, cfg.hashSeed),
            cfg.bands, cfg.hashSeed).as("bks")))

  def minhashBanded(reps: DataFrame, cfg: DedupConfig): DataFrame =
    minhashSketch(reps, cfg)
      .select(col("id"), posexplode(col("bks")).as(Seq("band", "bkey")))

  /** MinHash/LSH candidates over the exact-group representatives. */
  def minhashPairs(reps: DataFrame, cfg: DedupConfig): DataFrame =
    // no distinct here: the verifier's groupBy(src,dst) dedups all
    // generators at once — a per-generator distinct is a wasted shuffle
    saltedSelfJoinSketch(minhashSketch(reps, cfg), cfg.bucketSizeCap)
      .withColumn("source", lit("minhash"))

  /** Per-phash representative map: (image_id, phash, prep). Persisted-free
    * helper — the incremental path rebuilds only affected slices of it.
    * Window-free (see `repTag`): identical images are the canonical hot key.
    * A null phash is no key: such rows get no phash/simhash candidates, as
    * in append and probe (whose phash joins drop nulls). */
  def phashRepMap(clean: DataFrame): DataFrame =
    repTag(clean.where(col("phash").isNotNull).select(col("image_id"), col("phash")),
      Seq("phash"), "image_id", "prep")

  /** SimHash combo-key projection of distinct phashes: (id, band, bkey). */
  def simhashBanded(distinctPh: DataFrame, cfg: DedupConfig): DataFrame =
    distinctPh.select(col("id"),
      posexplode(SimHash.comboKeysCol(col("phash"), cfg.phashBands, cfg.phashAgree))
        .as(Seq("band", "bkey")))

  /** SimHash candidates: distinct phashes banded by pigeonhole slices,
    * plus same-phash membership pairs (Hamming 0). */
  def simhashPairs(clean: DataFrame, cfg: DedupConfig): DataFrame = {
    // persist the REP MAP (3 narrow columns), not the exploded combo-key
    // table (70 keys per phash — a columnar cache build of that explosion
    // measured ~2x wall on low-core runs): it feeds three consumers — the
    // same-phash membership pairs plus the salted join's two banded passes
    // (size agg + tag join), each of which would otherwise recompute the
    // groupBy+join rep tagging; the combo keys themselves are cheap bit
    // slices recomputed per pass
    val phRep = graft.util.Caches.persist(phashRepMap(clean))
    val samePhash = phRep.where(col("image_id") =!= col("prep"))
      .select(col("prep").as("src"), col("image_id").as("dst"))

    val distinctPh = phRep.where(col("image_id") === col("prep"))
      .select(col("prep").as("id"), col("phash"))
    // the sketch column is the NATIVE combo expression: both of the salted
    // join's passes evaluate it once per row in compiled Scala (the builtin
    // comboKeysCol tree would be interpreted under the filter Generator)
    val bandPairs = saltedSelfJoinSketch(
      distinctPh.select(col("id"),
        SimHash.comboKeysNativeCol(col("phash"), cfg.phashBands, cfg.phashAgree)
          .as("bks")),
      cfg.bucketSizeCap)

    samePhash.union(bandPairs).withColumn("source", lit("simhash"))
  }

  /** Per-norm representative map: (image_id, norm, nrep). Persisted as the
    * `norm_map` stage for the incremental path. Window-free (see `repTag`):
    * boilerplate captions are the canonical hot key. */
  def normMap(clean: DataFrame): DataFrame =
    repTag(clean.select(col("image_id"), col("norm")), Seq("norm"), "image_id", "nrep")

  /** Expand norm-rep containment pairs (src = contained rep, dst = container
    * rep) to member-level pairs, keyed on rep ids: each pair explodes into
    * (nrep = src, other = dst) and (nrep = dst, other = src), and ONE join
    * against the membership (image_id, nrep) pairs each end's members with
    * the other end's rep. */
  def expandSubstringPairs(repPairs: DataFrame, normRep: DataFrame): DataFrame =
    repPairs
      .select(explode(array(
        struct(col("src").as("nrep"), col("dst").as("other")),
        struct(col("dst").as("nrep"), col("src").as("other")))).as("e"))
      .select(col("e.nrep").as("nrep"), col("e.other").as("other"))
      .join(normRep.select(col("image_id"), col("nrep")), "nrep")
      .where(col("image_id") =!= col("other"))
      .select(least(col("image_id"), col("other")).as("src"),
        greatest(col("image_id"), col("other")).as("dst"))
      .withColumn("source", lit("substring"))

  /** Substring candidates over distinct normalized captions, expanded back
    * to all member rows (caption-level rule → member-level edges). The norm
    * map is persisted: the probe side, the build side and the expansion all
    * read it, and each would otherwise re-derive its groupBy + join. */
  def substringPairs(clean: DataFrame, cfg: DedupConfig): DataFrame = {
    val normRep = graft.util.Caches.persist(normMap(clean))
    val reps = normRep.where(col("image_id") === col("nrep"))
      .select(col("nrep").as("id"), col("norm"))
    expandSubstringPairs(SuffixDup.substringPairs(reps, cfg), normRep)
  }
}
