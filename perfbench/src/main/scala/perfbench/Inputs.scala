package perfbench

import graft.gen.{ImageRow, Synth}
import graft.util.Hashing

/** Input sizes of one run: corpus rows, rows per arrival wave, rows per
  * (small) probe request, and rows per large probe request. */
final case class Sizes(corpus: Int, wave: Int, probe: Int, probeLarge: Int)

/**
 * Seeded benchmark inputs, a pure function of (seed, row index).
 *
 * Corpus rows are `Synth` rows `0 until corpus`. Every later input row takes
 * the next unused index, so its id is unseen and sorts after the corpus and
 * after every earlier arrival (the engine's arrival-order contract). An
 * arrival row is either the fresh `Synth` row of its index (even indices) or
 * a resubmission (odd indices): a copy of a seeded corpus row under the new
 * id.
 * Resubmissions set how much work an arrival shares with the index.
 */
object Inputs {

  val Default: Sizes = Sizes(corpus = 1000, wave = 100, probe = 50, probeLarge = 1000)

  def id(i: Long): String = f"img-$i%010d"

  private def mix(seed: Long, i: Long, salt: Long): Long =
    Hashing.splitmix64(seed ^ Hashing.splitmix64(i * 31L + salt))

  /** Corpus row that arrival row `i` resubmits, or None for a fresh row.
    * Every odd arrival index resubmits. The copied rows follow a seeded
    * affine permutation of the corpus, so `corpus` consecutive resubmissions
    * copy distinct rows, and (for a corpus of whole 20-row blocks) exactly one
    * in 20 of them copies a hot row. A
    * fixed resubmission count without repeated copies keeps the work of a
    * run the same from seed to seed; only the rows drawn change. */
  def source(seed: Long, corpus: Int, i: Long): Option[Long] =
    if (i < corpus || i % 2 == 0) None
    else {
      val (a, b) = permutation(seed, corpus)
      Some(java.lang.Math.floorMod(a * (i / 2) + b, corpus.toLong))
    }

  /** Seeded `(a, b)` of the map `k -> a * k + b mod corpus`, `a` coprime to
    * the corpus size so the map is a permutation. */
  private def permutation(seed: Long, corpus: Int): (Long, Long) = {
    val n = corpus.toLong
    val start = java.lang.Long.remainderUnsigned(mix(seed, 0L, 3L), n)
    val a = Iterator.iterate(start)(x => (x + 1) % n).map(_ + 1)
      .find(x => BigInt(x).gcd(BigInt(n)) == 1).get
    (a, java.lang.Long.remainderUnsigned(mix(seed, 0L, 4L), n))
  }

  def row(seed: Long, corpus: Int, i: Long): ImageRow = source(seed, corpus, i) match {
    case None => Synth.makeRow(seed, i)
    case Some(j) => Synth.makeRow(seed, j).copy(image_id = id(i))
  }

  /** Arrival rows with indices `from until from + count`. */
  def arrivals(seed: Long, corpus: Int, from: Long, count: Int): Seq[ImageRow] =
    (from until from + count).map(row(seed, corpus, _))

  /** Index ranges: wave k, then the probe issued after it, then wave k + 1. */
  def waveStart(s: Sizes, k: Int): Long = s.corpus + k.toLong * (s.wave + s.probe)
  def probeStart(s: Sizes, k: Int): Long = waveStart(s, k) + s.wave

  /** `probe_serving` request ranges: the opening request starts at the end
    * of the corpus; operation k sends one small request, then one large. */
  def requestStart(s: Sizes, k: Int, large: Boolean): Long =
    s.corpus + s.probe + k.toLong * (s.probe + s.probeLarge) + (if (large) s.probe else 0)

  /** Row 19 of every 20-row Synth block carries the one hot caption and image. */
  def isHot(seed: Long, corpus: Int, i: Long): Boolean =
    source(seed, corpus, i).getOrElse(i) % Synth.Block == Synth.Block - 1
}
