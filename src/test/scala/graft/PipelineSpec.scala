package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.gen.{Images, Synth}
import graft.oracle.{NaiveOracle, OracleRow}

/**
 * The correctness gates of BASELINE.json:
 *  - dup-pair recall >= 0.99 vs the oracle's cluster assignments,
 *  - per-row invariant: decoded-pixel PSNR >= 40 dB (lossy), byte equality
 *    (lossless), caption equality,
 *  - CC labels invariant under partitioning,
 *  - resumability (see ResumeSpec).
 */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val cfg = DedupConfig.default
  val N = 400L

  lazy val corpus = Synth.corpus(spark, N).toDF().cache()
  lazy val result = Dedup.run(spark, corpus, cfg)

  lazy val oracleOutcomes = {
    val rows = (0L until N).map { i =>
      val r = Synth.makeRow(42L, i)
      OracleRow(r.image_id, r.caption, r.w, r.h, r.fmt, r.phash)
    }
    NaiveOracle.run(rows, cfg)
  }

  test("corpus is deterministic and has planted structure") {
    import spark.implicits._
    val again = Synth.corpus(spark, N).toDF()
    assert(corpus.select("image_id", "caption", "phash").except(
      again.select("image_id", "caption", "phash")).count() == 0)
    val truth = Synth.truth(spark, N)
    assert(truth.where($"group_id" === "hot").count() == N / Synth.Block)
    assert(truth.where($"kind" === "lowquality").count() > 0)
  }

  test("per-row invariant: decoded pixels (PSNR >= 40dB lossy, exact lossless) + caption equality") {
    val rows = corpus.collect()
    assert(rows.length == N)
    rows.foreach { row =>
      val i = row.getAs[String]("image_id").stripPrefix("img-").toLong
      val (_, wantCaption, w, h, fmt, pixelSeed, _, kindName) = Synth.describe(42L, i)
      assert(row.getAs[String]("caption") == wantCaption)
      val truthImg = Images.render(pixelSeed, w, h,
        jitter = if (kindName == "imagedup") 2 else 0)
      val decoded = Images.decode(row.getAs[Array[Byte]]("bytes"))
      assert(decoded.getWidth == w && decoded.getHeight == h)
      if (fmt == "png") {
        assert(Images.psnr(truthImg, decoded).isPosInfinity, s"png row $i must be lossless")
      } else {
        val p = Images.psnr(truthImg, decoded)
        assert(p >= 40.0, s"jpg row $i PSNR=$p < 40dB")
      }
    }
  }

  test("dup-pair recall >= 0.99 vs oracle cluster assignments") {
    import spark.implicits._
    val oraclePairs = NaiveOracle.intraClusterPairs(oracleOutcomes)
    val engineClusters = result.clusters.as[(String, String)].collect()
    val enginePairs = engineClusters.groupBy(_._2).values.flatMap { ms =>
      val ids = ms.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet

    assert(oraclePairs.nonEmpty, "oracle found no duplicate pairs — corpus broken")
    val recall = (oraclePairs intersect enginePairs).size.toDouble / oraclePairs.size
    val precision =
      if (enginePairs.isEmpty) 1.0
      else (oraclePairs intersect enginePairs).size.toDouble / enginePairs.size
    info(s"oracle pairs=${oraclePairs.size} engine pairs=${enginePairs.size} " +
      s"recall=$recall precision=$precision")
    assert(recall >= 0.99, s"recall $recall < 0.99")
    assert(precision >= 0.99, s"precision $precision < 0.99")
  }

  test("decision classes match the oracle") {
    import spark.implicits._
    val engine = result.decisions.select("image_id", "decision")
      .as[(String, String)].collect().toMap
    val lowQ = result.lowQuality.select("image_id").as[String].collect().toSet
    var mismatches = 0
    oracleOutcomes.foreach { o =>
      val got =
        if (lowQ.contains(o.id)) "low_quality" else engine.getOrElse(o.id, "missing")
      if (got != o.decision) mismatches += 1
    }
    val rate = mismatches.toDouble / oracleOutcomes.size
    info(s"decision mismatches: $mismatches / ${oracleOutcomes.size}")
    assert(rate <= 0.01, s"decision mismatch rate $rate > 1%")
  }

  test("oracle orders ids as Spark does: code points, not UTF-16 units") {
    // "Ａ" (U+FF21) sorts before "😀" (U+1F600) in Spark's UTF-8 order and
    // after it in UTF-16 order: the later arrival is the blocked copy, and
    // the earlier one parents it and labels the cluster
    val caption = "a photo of the quick brown fox jumping over the lazy dog at dawn"
    val out = NaiveOracle.run(Seq("😀", "Ａ").map(OracleRow(_, caption, 64, 48, "png", 7L)), cfg)
      .map(o => o.id -> o).toMap
    assert(out("Ａ").decision == "new" && out("Ａ").cluster == "Ａ", out)
    assert(out("😀").decision == "blocked" && out("😀").parent.contains("Ａ") &&
      out("😀").cluster == "Ａ", out)
  }

  test("top-k candidate list: head is the best match, ordered, capped at topK") {
    import org.apache.spark.sql.Row
    val rows = result.decisions
      .select("image_id", "best_match_id", "best_score", "top_matches").collect()
    assert(rows.exists(r => !r.isNullAt(3) && r.getSeq[Row](3).size > 1),
      "some row must have multiple candidates")
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        val tm = r.getSeq[Row](3)
        assert(tm.size <= cfg.topK, s"top_matches exceeds topK for ${r.getString(0)}")
        // head of the list IS the best match (best-of-k parity)
        assert(tm.head.getString(0) == r.getString(1) &&
          tm.head.getDouble(1) == r.getDouble(2),
          s"top_matches head != best for ${r.getString(0)}")
        // scores are non-increasing
        tm.sliding(2).foreach {
          case Seq(a, b) => assert(a.getDouble(1) >= b.getDouble(1))
          case _ => ()
        }
      }
    }
  }

  test("recurring tag joined back onto member rows") {
    import spark.implicits._
    val recClusters = result.recurring.select("cluster_id").as[String].collect().toSet
    val byFlag = result.decisions.select("cluster_id", "is_recurring")
      .as[(String, Boolean)].collect()
    assert(recClusters.nonEmpty)
    byFlag.foreach { case (c, f) =>
      assert(f == recClusters.contains(c), s"is_recurring mismatch for cluster $c")
    }
  }

  test("audit rows: one per decision with consistent reasoning") {
    import spark.implicits._
    val audit = result.audit.select("image_id", "decision", "reasoning")
      .as[(String, String, String)].collect()
    assert(audit.length == result.decisions.count())
    audit.foreach { case (id, d, why) =>
      assert(why != null && why.nonEmpty, s"empty reasoning for $id")
      val expectPrefix = d match {
        case "blocked" => "blocked:"
        case "duplicate" => "flagged duplicate:"
        case _ => "new:"
      }
      assert(why.startsWith(expectPrefix), s"$id: '$why' !~ $expectPrefix")
    }
  }

  test("low-quality rows are quarantined, not clustered") {
    import spark.implicits._
    val lq = result.lowQuality.select("image_id").as[String].collect().toSet
    assert(lq.nonEmpty)
    val clustered = result.clusters.select("image_id").as[String].collect().toSet
    assert(lq.intersect(clustered).isEmpty)
  }

  test("recurring tag: hot cluster qualifies") {
    import spark.implicits._
    val rec = result.recurring.select("cluster_id", "members")
      .as[(String, Long)].collect()
    assert(rec.exists(_._2 >= N / Synth.Block), "hot cluster must be tagged Recurring")
  }

  test("meta-boosted borderline pairs: conditional LSH recall guarantee") {
    // Pairs engineered so ONLY the MinHash generator can find them:
    // identical metadata (metaSim = 1.0) boosts hybrid over the 0.70 edge
    // even when content Jaccard sits in [0.571, 0.70) — the band where the
    // LSH s-curve gives P(candidate) ≈ 0.97-0.99, BELOW the 0.99 gate
    // (DedupConfig scaladoc: guarantee is conditional on content >= 0.70).
    // Distinct far-apart phashes and non-contained captions disable the
    // simhash/substring/exact backstops on purpose.
    import spark.implicits._
    import graft.sig.Shingle
    val M = 40
    val rows = (0 until M).flatMap { i =>
      val anchor = Synth.makeCaption(7777L, i.toLong, 30)
      val variant = anchor.clone()
      // every 3rd pair: ONE replaced token -> Jaccard ≈ 0.8 (guaranteed
      // band, content >= 0.70); otherwise TWO spaced replacements ->
      // Jaccard ≈ 0.65 (borderline band, only hybrid clears the edge)
      variant(7) = "zzqa" + i
      if (i % 3 != 0) variant(19) = "zzqb" + i
      val pa = graft.util.Hashing.splitmix64(0xABCD0000L + i)
      val pb = graft.util.Hashing.splitmix64(0xDCBA0000L + i)
      Seq(
        (f"bl-$i%04d-a", Array.emptyByteArray, 64, 64, "png", anchor.mkString(" "), pa),
        (f"bl-$i%04d-b", Array.emptyByteArray, 64, 64, "png", variant.mkString(" "), pb))
    }
    val df = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val edges = Dedup.run(spark, df, cfg).verified
      .where(col("is_edge"))
      .select("src", "dst", "content_sim").as[(String, String, Double)]
      .collect().map(r => ((r._1, r._2), r._3)).toMap

    // oracle classification of each planted pair by exact content Jaccard
    val byBand = (0 until M).map { i =>
      val (a, b) = (rows(2 * i), rows(2 * i + 1))
      val jac = Shingle.jaccard(
        Shingle.shingleHashes(a._6, cfg.shingleSize),
        Shingle.shingleHashes(b._6, cfg.shingleSize))
      val hybrid = 0.7 * jac + 0.3 // metaSim = 1.0, same orientation
      ((a._1, b._1), jac, hybrid)
    }
    val edgePairs = byBand.filter(_._3 >= cfg.flagThreshold)
    val guaranteed = edgePairs.filter(_._2 >= cfg.flagThreshold)
    val borderline = edgePairs.filter(_._2 < cfg.flagThreshold)
    assert(guaranteed.nonEmpty && borderline.nonEmpty,
      "test corpus must contain both guaranteed-band and borderline-band edges")

    val missedGuaranteed = guaranteed.filterNot(p => edges.contains(p._1))
    assert(missedGuaranteed.isEmpty,
      s"pairs with content >= 0.70 are inside the LSH guarantee: $missedGuaranteed")
    val found = borderline.count(p => edges.contains(p._1))
    val recall = found.toDouble / borderline.size
    info(f"guaranteed=${guaranteed.size} borderline=${borderline.size} " +
      f"found=$found recall=$recall%.3f " +
      f"(jaccard ${byBand.map(_._2).min}%.3f..${byBand.map(_._2).max}%.3f)")
    // deterministic given fixed hashing; expected ≈ 0.99 per the s-curve
    assert(recall >= 0.9, s"borderline recall $recall collapsed — LSH config regressed")
  }

  test("cluster labels invariant under input partitioning") {
    import spark.implicits._
    val repartitioned = Dedup.run(spark, corpus.repartition(13), cfg)
    val a = result.clusters.as[(String, String)].collect().toSet
    val b = repartitioned.clusters.as[(String, String)].collect().toSet
    assert(a == b)
  }
}
