package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val s = Inputs.Default

  private def fingerprint(seed: Long, from: Long, count: Int): Seq[String] =
    Inputs.arrivals(seed, s.corpus, from, count).map(r =>
      s"${r.image_id}|${r.caption}|${r.phash}|${java.util.Arrays.hashCode(r.bytes)}|${r.fmt}|${r.w}x${r.h}")

  test("the same seed yields identical inputs, another seed different ones") {
    val corpus7 = fingerprint(7L, 0L, 200)
    assert(corpus7 == fingerprint(7L, 0L, 200))
    assert(corpus7 != fingerprint(8L, 0L, 200))
    val wave7 = fingerprint(7L, Inputs.waveStart(s, 0), s.wave)
    assert(wave7 == fingerprint(7L, Inputs.waveStart(s, 0), s.wave))
    assert(wave7 != fingerprint(8L, Inputs.waveStart(s, 0), s.wave))
    // which rows resubmit, and what, is seeded too
    val src = (i: Long, seed: Long) => Inputs.source(seed, s.corpus, i)
    val range = Inputs.waveStart(s, 0) until Inputs.waveStart(s, 3)
    assert(range.map(src(_, 7L)) == range.map(src(_, 7L)))
    assert(range.map(src(_, 7L)) != range.map(src(_, 8L)))
  }

  test("resubmission ids are unseen and sort after the corpus and earlier arrivals") {
    val seed = 3L
    val corpusIds = (0L until s.corpus).map(Inputs.id)
    val arrivalIdx = Inputs.waveStart(s, 0) until Inputs.waveStart(s, 4)
    val ids = arrivalIdx.map(Inputs.id)
    assert(ids.toSet.intersect(corpusIds.toSet).isEmpty)
    assert(ids.forall(_ > corpusIds.max))
    assert(ids == ids.sorted && ids.distinct.size == ids.size)
    val resubmitted = arrivalIdx.flatMap(i => Inputs.source(seed, s.corpus, i).map(i -> _))
    // every other arrival resubmits a corpus row, under the arrival's own id,
    // and no corpus row is copied twice
    assert(resubmitted.size == arrivalIdx.size / 2)
    assert(resubmitted.map(_._2).distinct.size == resubmitted.size)
    resubmitted.foreach { case (i, j) =>
      assert(j >= 0 && j < s.corpus)
      val r = Inputs.row(seed, s.corpus, i)
      val orig = graft.gen.Synth.makeRow(seed, j)
      assert(r.image_id == Inputs.id(i) && r.caption == orig.caption && r.phash == orig.phash)
    }
    // corpus rows never resubmit
    assert((0L until s.corpus.toLong).forall(Inputs.source(seed, s.corpus, _).isEmpty))
  }

  test("hot rows are the Synth hot row and its resubmissions") {
    val hot = (0L until 100L).filter(Inputs.isHot(1L, s.corpus, _))
    assert(hot == Seq(19L, 39L, 59L, 79L, 99L))
    val hotCaption = graft.gen.Synth.hotCaption(1L)
    (Inputs.waveStart(s, 0) until Inputs.waveStart(s, 2))
      .filter(Inputs.isHot(1L, s.corpus, _))
      .foreach(i => assert(Inputs.row(1L, s.corpus, i).caption == hotCaption))
  }
}
