package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.pairs.{Candidates, Cohort}
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

    // both tag-join branches: broadcast, and shuffle-hash past the key cap
    for (budget <- Seq(DedupConfig.default.driverBudget, 0L)) {
      val cfg = DedupConfig.default.copy(bucketSizeCap = cap, driverBudget = budget)
      val salted = Candidates.saltedSelfJoin(banded, cfg)
        .as[(String, String)].collect()

      assert(salted.length == salted.toSet.size, "no duplicate pairs")
      assert(salted.toSet == naive)
    }
    // sanity: the hot bucket alone contributes C(80,2) pairs
    assert(naive.size == 3 + 28 + (80 * 79) / 2)
  }

  test("Cohort.keyFiltered past InSetKeyCap: the semi-join keeps the driver filter's rows and column order") {
    import spark.implicits._
    val rows = (0 until 3000).map(i => (f"r$i%05d", (i * 13 % 5000).toLong))
    val keys = (0L until Cohort.InSetKeyCap + 1L).map(_ * 3)
    assert(keys.size == 32769)
    val frame = rows.toDF("id", "k")
    val filtered = Cohort.keyFiltered(frame, "k", keys)
    assert(filtered.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "past the cap the filter is the broadcast left-semi join")
    // the cohort's fetches read rows by position
    assert(filtered.columns.toSeq == frame.columns.toSeq)
    val keySet = keys.toSet
    assert(filtered.as[(String, Long)].collect().sorted.toSeq ==
      rows.filter(r => keySet(r._2)).sorted)
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

    // the derived defaults: 9,803 rows, 2M broadcast keys, 16M filter keys
    val default = DedupConfig.default
    assert(graft.pairs.LocalCandidates.rowCap(default) == 9803L &&
      Candidates.broadcastKeys(default) == 2000000L && Candidates.filterKeys(default) == 16000000L)
    // one budget per tier: the fixture's n non-singleton keys fall in each
    val n = banded.groupBy("band", "bkey").count().where(col("count") >= 2).count()
    val mid = (n + 15) / 16
    val (cfgA, cfgB, cfgC) = (default.copy(bucketSizeCap = cap),
      default.copy(bucketSizeCap = cap, driverBudget = mid),
      default.copy(bucketSizeCap = cap, driverBudget = 0L))
    assert(n <= Candidates.broadcastKeys(cfgA), s"tier a: $n keys")
    assert(Candidates.broadcastKeys(cfgB) < n && n <= Candidates.filterKeys(cfgB), s"tier b: $n keys")
    assert(n > Candidates.filterKeys(cfgC), s"tier c: $n keys")
    val bcast = Candidates.saltedSelfJoinSketch(sketch, cfgA)
      .as[(String, String)].collect().toSet
    val filterShuffleM = Candidates.saltedSelfJoinSketch(sketch, cfgB)
      .as[(String, String)].collect().toSet
    val shuffle = Candidates.saltedSelfJoinSketch(sketch, cfgC)
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
    val cfg = DedupConfig.default.copy(bucketSizeCap = 4)
    val a = Candidates.saltedSelfJoin(rows.toDF("id", "band", "bkey").repartition(2), cfg)
      .as[(String, String)].collect().toSet
    val b = Candidates.saltedSelfJoin(rows.toDF("id", "band", "bkey").repartition(7), cfg)
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

  /** Feature rows (the clean columns the generators read) for
    * (image_id, caption, w, h, fmt, phash) inputs. */
  private def clean(rows: Seq[(String, String, Int, Int, String, java.lang.Long)]) = {
    import spark.implicits._
    Dedup.features(rows.toDF("image_id", "caption", "w", "h", "fmt", "phash"),
      DedupConfig.default).where(!col("is_low_quality")).repartition(3)
  }

  private def multiset(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String)] =
    df.select("src", "dst", "source").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  private type KeyRow = (String, String, Int, Int, String, java.lang.Long)

  private def synthRows(n: Int, seed: Long): Seq[KeyRow] =
    (0L until n.toLong).map(graft.gen.Synth.makeRow(seed, _))
      .map(r => (r.image_id, r.caption, r.w, r.h, r.fmt, java.lang.Long.valueOf(r.phash)))

  test("driver-local candidates == distributed candidates (hot caption, resubmissions, repeated phrase)") {
    val cfg = DedupConfig.default
    // Synth rows carry the hot caption star (row 19 of every 20-row block)
    val synth = synthRows(300, 1L)
    // resubmitted copies of earlier rows under fresh, later ids
    val resubs = (0 until 300 by 7).map { i =>
      val r = synth(i); (f"img-9$i%09d", r._2, r._3, r._4, r._5, r._6)
    }
    // the repeated-phrase / hot-containment substring fixture, with phashes
    // shared inside a caption group and a couple of near phashes across
    val phrase = substringCaptions.map { case (id, norm) =>
      (id, norm, 64, 48, "png", java.lang.Long.valueOf(norm.hashCode.toLong & 0xffffL))
    }
    // the end-to-end suites' corpora, which are all under the gate, so their
    // Dedup.run / runCheckpointed calls take the driver side: ResumeSpec's
    // null-phash batch (ids ending in 3 lose their phash, three copied under
    // new ids) and bridging row, ProbeSpec's corpus with its two unseen
    // byte-identical rows
    val nullPhash = {
      val base = synthRows(200, graft.gen.Synth.DefaultSeed)
        .map(r => if (r._1.endsWith("3")) r.copy(_6 = null) else r)
      base ++ Seq(3 -> 900, 13 -> 901, 183 -> 902)
        .map { case (from, to) => base(from).copy(_1 = f"img-$to%010d") }
    }
    val capA = "unique alpha beta gamma delta epsilon zeta caption body"
    val capB = "distinct one two three four five six seven caption tail"
    val bridge = synthRows(60, graft.gen.Synth.DefaultSeed) ++ Seq(
      ("img-0000000700", capA, 64, 64, "png", java.lang.Long.valueOf(0x123456789ABCDEF0L)),
      ("img-0000000701", capB, 64, 64, "png", java.lang.Long.valueOf(0x0FEDCBA987654321L)),
      ("img-0000000800", s"$capA $capB", 64, 64, "png", java.lang.Long.valueOf(0x5555AAAA3333CCCCL)))
    val probe = {
      val base = synthRows(480, graft.gen.Synth.DefaultSeed)
      val unseen = "zyqqat florblex umbrine quavitol dresken marlowex vintagra koomzel"
      base ++ Seq("img-zzzzzz0001", "img-zzzzzz0002")
        .map(id => base(400).copy(_1 = id, _2 = unseen, _6 = java.lang.Long.valueOf(0x5AC3F00D12345678L)))
    }
    val corpora = Seq("synth+resubmissions" -> (synth ++ resubs), "repeated phrase" -> phrase,
        "null phashes" -> nullPhash, "bridging row" -> bridge, "probe corpus" -> probe) ++
      (for (n <- Seq(300, 1000, 2000); seed <- Seq(1L, 2L, 7L))
        yield s"synth $n seed $seed" -> synthRows(n, seed))
    // each distributed side is ~35 scheduling-bound jobs: three corpora at a
    // time overlap their driver floors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val checks = corpora.map { case (name, rows) => scala.concurrent.Future {
      val c = clean(rows)
      val (local, placedL) = Dedup.candidatesPlaced(c, cfg)
      // a budget one row under the batch: the row gate sends it to the
      // distributed generators, and their salted joins keep the default
      // tiers (every key set is under 2 × the budget)
      val (dist, placedD) = Dedup.candidatesPlaced(c, cfg.copy(driverBudget = (c.count() - 1) *
        (cfg.bands + graft.sig.SimHash.subsets(cfg.phashBands, cfg.phashAgree).size)))
      assert(placedL == "local" && placedD == "distributed", name)
      val (l, d) = (multiset(local), multiset(dist))
      assert(l.map(_._3).distinct.size >= 3, s"$name: too few generators fire: ${l.groupBy(_._3).keys}")
      assert(l == d, s"$name: local-only=${l.diff(d).take(5)} distributed-only=${d.diff(l).take(5)}")
    }}
    try scala.concurrent.Await.result(scala.concurrent.Future.sequence(checks),
      scala.concurrent.duration.Duration(20, "min"))
    finally pool.shutdown()
  }

  test("a batch whose pair volume passes the driver budget runs the distributed generators") {
    val cfg = DedupConfig.default
    // 260 rows under the row gate: one caption at 260 sizes, so 260 exact
    // groups whose reps share all minhash bands, 32 * C(260, 2) = 1,076,640
    // bucket pairs > driverBudget; the twins count them and build none
    val cap = "a photo of the quick brown fox jumping over the lazy dog at dawn"
    val rows = (0 until 260).map(i =>
      (f"w-$i%04d", cap, 64 + i, 48, "png", java.lang.Long.valueOf(i.toLong * 0x9E3779B97F4A7C15L)))
    val c = clean(rows)
    val keyRows = c.select(graft.pairs.LocalCandidates.KeyCols.map(col): _*).collect().toSeq
    assert(keyRows.size == 260 && keyRows.size <= graft.pairs.LocalCandidates.rowCap(cfg))
    assert(graft.pairs.LocalCandidates.candidates(keyRows, cfg).isEmpty)
    // the frame handed back is then Dedup.candidates' own plan, so its
    // multiset is the distributed one (planned here, not run)
    val (_, placed) = Dedup.candidatesPlaced(c, cfg)
    assert(placed == "distributed")
  }

  test("the twins' pair gate reads the caller's budget, not the default one") {
    val cfg = DedupConfig.default
    // a budget of 10,200 is a row cap of 100; one caption at 100 sizes gives
    // 32 * C(100, 2) = 158,400 bucket pairs, over that budget and under the
    // default one
    val small = cfg.copy(driverBudget = 10200L)
    assert(graft.pairs.LocalCandidates.rowCap(small) == 100L)
    val cap = "a photo of the quick brown fox jumping over the lazy dog at dawn"
    val c = clean((0 until 100).map(i =>
      (f"w-$i%04d", cap, 64 + i, 48, "png", java.lang.Long.valueOf(i.toLong * 0x9E3779B97F4A7C15L))))
    val (local, placedL) = Dedup.candidatesPlaced(c, cfg)
    val (dist, placedD) = Dedup.candidatesPlaced(c, small)
    assert(placedL == "local" && placedD == "distributed")
    val (l, d) = (multiset(local), multiset(dist))
    assert(l.count(_._3 == "minhash") == 158400)
    assert(l == d, s"local-only=${l.diff(d).take(5)} distributed-only=${d.diff(l).take(5)}")
  }

  test("driver-local candidates order ids as Spark does (code points, not UTF-16 units)") {
    val cfg = DedupConfig.default
    // "Ａ" (U+FF21) sorts before "😀" (U+1F600) in Spark's UTF-8 order and
    // after it in UTF-16 order: every group's min-id rep and every pair's
    // orientation depends on which order the twins use
    val cap = "a photo of the quick brown fox jumping over the lazy dog at dawn"
    val rows = Seq("Ａ", "😀", "a", "ｚ", "😀😀").zipWithIndex.flatMap { case (p, i) =>
      Seq((s"$p-1", cap, 64, 48, "png", java.lang.Long.valueOf(7L)),
        (s"$p-2", s"$cap near the river bank number $i", 64, 48, "png",
          java.lang.Long.valueOf(7L + i)))
    }
    val c = clean(rows)
    val (local, placed) = Dedup.candidatesPlaced(c, cfg)
    assert(placed == "local")
    val (l, d) = (multiset(local), multiset(Dedup.candidates(c, cfg)))
    assert(l.exists(_._1 == "a-1") && l.exists(t => t._1 == "Ａ-1" && t._2.startsWith("😀")))
    assert(l == d, s"local-only=${l.diff(d).take(5)} distributed-only=${d.diff(l).take(5)}")
  }

  test("bucket pairs touching a batch row in a 2,000-row bucket: the split equals build-then-filter") {
    import graft.pairs.LocalCandidates
    // one hot bucket of 2,000 index rows with the batch row in the middle of
    // its rows, and a second bucket the batch does not touch
    val index = (0 until 2000).map(i => (f"old-$i%05d", 3, 42L))
    val rows = (index.take(1000) :+ (("new-0", 3, 42L))) ++ index.drop(1000) ++
      (0 until 50).map(i => (f"old-$i%05d", 4, 7L))
    val isNew = Set("new-0")
    val filtered = LocalCandidates.bucketPairs(rows).filter(p => isNew(p._1) || isNew(p._2))
    assert(filtered.size == 2000)
    assert(LocalCandidates.bucketPairs(rows, isNew).sorted == filtered.sorted)
  }

  test("a null phash is no key: two null-phash rows get no simhash candidate") {
    val cfg = DedupConfig.default
    val c = clean(Seq(
      ("n-1", "a red bicycle leaning on a wall in the old town square", 64, 48, "png", null),
      ("n-2", "a blue kettle on the stove in a small kitchen at night", 64, 48, "png", null),
      ("n-3", "a green lamp on a desk beside a stack of old books", 64, 48, "png",
        java.lang.Long.valueOf(5L))))
    assert(multiset(Candidates.simhashPairs(c, cfg)).isEmpty)
    val (local, placed) = Dedup.candidatesPlaced(c, cfg)
    assert(placed == "local")
    assert(!multiset(local).exists(_._3 == "simhash"))
  }
}
