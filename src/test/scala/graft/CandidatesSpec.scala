package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.pairs.Candidates
import graft.sig.SuffixDup

class CandidatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("salted self-join produces exactly the naive pair set (incl. hot buckets)") {
    import spark.implicits._
    // 3 buckets: tiny (3), exactly-cap-sized, and hot (10x cap)
    val cap = 8
    val rows =
      (0 until 3).map(i => (f"a$i%03d", 0, 100L)) ++
        (0 until cap).map(i => (f"b$i%03d", 0, 200L)) ++
        (0 until cap * 10).map(i => (f"c$i%03d", 1, 300L))
    val banded = rows.toDF("id", "band", "bkey")

    val naive = banded.as("l").join(banded.as("r"),
        $"l.band" === $"r.band" && $"l.bkey" === $"r.bkey" && $"l.id" < $"r.id")
      .select($"l.id".as("src"), $"r.id".as("dst"))
      .as[(String, String)].collect().toSet

    val salted = Candidates.saltedSelfJoin(banded, cap)
      .as[(String, String)].collect()

    assert(salted.length == salted.toSet.size, "no duplicate pairs")
    assert(salted.toSet == naive)
    // sanity: the hot bucket alone contributes C(80,2) pairs
    assert(naive.size == 3 + 28 + (80 * 79) / 2)
  }

  test("sketch salted self-join == naive pair set on all three tiers") {
    import spark.implicits._
    // multi-band sketches with a planted hot key in band 2: all three gate
    // tiers — (a) LongSet filter + row-broadcast m-attach, (b) LongSet
    // filter + shuffle m-attach (key set past the row-broadcast cap but
    // under the filter cap), (c) full shuffle (past both) — must reproduce
    // the naive exploded self-join's pair SET (pairs may repeat across
    // bands; the verifier dedups downstream)
    val cap = 8
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (f"s$i%03d", (0 until 5).map(b =>
        rnd.nextInt(if (b == 2) 3 else 40).toLong))
    }
    val sketch = rows.toDF("id", "bks")
    val banded = sketch.select(col("id"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    val naive = banded.as("l").join(banded.as("r"),
        $"l.band" === $"r.band" && $"l.bkey" === $"r.bkey" && $"l.id" < $"r.id")
      .select($"l.id".as("src"), $"r.id".as("dst"))
      .as[(String, String)].collect().toSet
    assert(naive.size > 1000, "hot band must generate real pair volume")

    val bcast = Candidates.saltedSelfJoinSketch(sketch, cap)
      .as[(String, String)].collect().toSet
    val filterShuffleM = Candidates.saltedSelfJoinSketch(sketch, cap,
        broadcastKeyCap = 0)
      .as[(String, String)].collect().toSet
    val shuffle = Candidates.saltedSelfJoinSketch(sketch, cap,
        broadcastKeyCap = 0, filterKeyCap = 0)
      .as[(String, String)].collect().toSet
    assert(bcast == naive)
    assert(filterShuffleM == naive)
    assert(shuffle == naive)
  }

  test("LongSet contains exactly its members") {
    val rnd = new scala.util.Random(1)
    val vals = Array.fill(5000)(rnd.nextLong())
    val s = graft.util.LongSet(vals)
    vals.foreach(v => assert(s.contains(v)))
    val members = vals.toSet
    (0 until 5000).foreach { _ =>
      val x = rnd.nextLong()
      assert(s.contains(x) == members.contains(x))
    }
    assert(!graft.util.LongSet(Array.empty[Long]).contains(0L))
  }

  test("salted self-join is stable under partitioning") {
    import spark.implicits._
    val rows = (0 until 100).map(i => (f"x$i%03d", i % 3, (i % 5).toLong))
    val a = Candidates.saltedSelfJoin(rows.toDF("id", "band", "bkey").repartition(2), 4)
      .as[(String, String)].collect().toSet
    val b = Candidates.saltedSelfJoin(rows.toDF("id", "band", "bkey").repartition(7), 4)
      .as[(String, String)].collect().toSet
    assert(a == b)
  }

  // substring fixture: a hot caption (24 members) contained in two
  // containers, a caption that repeats a phrase (its suffixes share a key at
  // two offsets) with probes that occur at both offsets, a prefix-key
  // collision that is not token-aligned ("dog" vs "dogs"), and captions too
  // short to be probes
  private val hot = "the quick brown fox jumps over the lazy dog"
  private val phrase = "alpha beta gamma delta epsilon zeta"
  private val repeated = s"$phrase $phrase eta"
  private val substringCaptions: Seq[(String, String)] = {
    val groups = Seq(
      hot -> 24,
      s"a photo of $hot at dawn" -> 2,
      s"$hot and the cat" -> 3,
      s"$hot" + "s in the yard" -> 2,
      repeated -> 2,
      phrase -> 3,
      s"$phrase eta" -> 1,
      s"$phrase theta" -> 1,
      "short caption" -> 4,
      "an unrelated caption about a red bicycle" -> 2)
    // ids interleave the groups, so a group's rep (min id) is not always
    // its first listed member and containers are not always the later rows
    groups.zipWithIndex.flatMap { case ((norm, n), g) =>
      (0 until n).map(i => (f"i${i * 17 + g}%04d", norm))
    }
  }

  test("substring pairs == naive token-aligned containment + member expansion") {
    import spark.implicits._
    val cfg = DedupConfig.default
    val clean = substringCaptions.toDF("image_id", "norm").repartition(3)
    val got = Candidates.substringPairs(clean, cfg)
      .select("src", "dst", "source").as[(String, String, String)].collect()
      .toSeq.sorted

    val members = substringCaptions.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val rep = members.view.mapValues(_.min).toMap
    val expected = (for {
      a <- members.keys.toSeq
      b <- members.keys.toSeq
      if SuffixDup.isTokenAlignedSubstring(a, b, cfg)
      (x, y) <- members(a).map(m => (m, rep(b))) ++ members(b).map(m => (rep(a), m))
      if x != y
    } yield (Ordering[String].min(x, y), Ordering[String].max(x, y), "substring"))
      .sorted
    assert(members(hot).size >= 20)
    val hotMembers = members(hot).toSet
    assert(expected.count(p => hotMembers(p._1) || hotMembers(p._2)) > 40,
      "the hot caption must expand to real pair volume")
    assert(got == expected,
      s"got-only=${got.diff(expected).take(5)} expected-only=${expected.diff(got).take(5)}")
  }

  test("suffix entries carry no duplicate key; verify join emits each pair once") {
    import spark.implicits._
    val cfg = DedupConfig.default
    val reps = substringCaptions.groupBy(_._2).toSeq
      .map { case (norm, ms) => (ms.map(_._1).min, norm) }
    val captions = reps.toDF("id", "norm").repartition(3)

    val entries = SuffixDup.suffixEntries(captions)
      .select("b_id", "tier", "k").as[(String, Int, Long)].collect()
    assert(entries.length == entries.distinct.length, "duplicate (b_id, tier, k)")
    // the repeated phrase really yields one key at two offsets: its
    // token-aligned suffixes outnumber its distinct keys
    val repId = reps.find(_._2 == repeated).get._1
    val starts = 0 +: repeated.indices.filter(repeated(_) == ' ').map(_ + 1)
    val suffixes = starts.filter(repeated.length - _ >= SuffixDup.Tiers.head)
    assert(entries.count(_._1 == repId) < suffixes.size)

    val pairs = SuffixDup.substringPairs(captions, cfg)
      .as[(String, String)].collect()
    assert(pairs.length == pairs.distinct.length, "duplicate (src, dst)")
    val phraseId = reps.find(_._2 == phrase).get._1
    assert(pairs.contains((phraseId, repId)),
      "a probe matching the repeated phrase at both offsets must still pair")
  }
}
