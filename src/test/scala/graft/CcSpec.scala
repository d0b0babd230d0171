package graft

import org.apache.spark.sql.functions._
import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.ConnectedComponents

/**
 * Depth insurance for connected components (round-4 verdict #4): the
 * generators bound component diameter by construction (star reps), but CC
 * itself must (a) never silently truncate a deeper graph and (b) offer an
 * O(log d) path for edge sets that break the bound.
 */
class CcSpec extends AnyFunSuite with ParallelTestExecution {
  lazy val spark = SparkTestSession.spark

  private def chain(n: Int) = {
    import spark.implicits._
    val ids = (0 until n).map(i => f"v-$i%04d")
    val edges = ids.sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
    val vertices = ids.toDF("id")
    (vertices, edges, ids)
  }

  test("a 32-deep chain converges to one component; pointer jumping does it in O(log d)") {
    // diameter 32 — far beyond the star bound. (Was 64: halving the chain
    // proves the same O(log d) claim at half the per-round Spark-job wall —
    // this test was the single heaviest suite item, r5 verdict #8.)
    val (vertices, edges, ids) = chain(33)

    // plain propagation: needs ~diameter rounds, must still be CORRECT
    val plain = ConnectedComponents.run(vertices, edges, maxIter = 48)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ids.forall(plain(_) == "v-0000"), "one chain = one component, labeled by min id")

    // path halving: same labels, logarithmic rounds — 12 is ~2·log2(32)+slack,
    // far below the 32+ plain propagation needs, so passing PROVES the jump
    val jumped = ConnectedComponents.run(vertices, edges, maxIter = 12,
      pointerJump = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(jumped == plain)
  }

  test("runAdaptive == run under the gate and falls back above it") {
    import spark.implicits._
    val (vertices, edges, ids) = chain(12)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cfg = graft.config.DedupConfig.default
    val gated = labels(ConnectedComponents.runAdaptive(vertices, edges, cfg))
    assert(ids.forall(gated(_) == "v-0000"))
    // the chain's 11 edges exceed a cap of 5 (distributed fallback); cap 0
    // disables the driver path outright — both must label exactly as run
    val plain = labels(ConnectedComponents.run(vertices, edges))
    assert(gated == plain)
    for (cap <- Seq(5L, 0L))
      assert(labels(ConnectedComponents.runAdaptive(vertices, edges,
        cfg.copy(driverBudget = cap))) == plain, s"cap $cap")
    // singletons (vertices absent from edges) keep their own id
    val extra = (ids :+ "v-9999").toDF("id")
    val withSingleton = ConnectedComponents.runAdaptive(extra, edges, cfg)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(withSingleton("v-9999") == "v-9999")
  }

  test("maxIter truncation is an error, never a silent wrong answer") {
    val (vertices, edges, _) = chain(40)
    val e = intercept[IllegalStateException](
      ConnectedComponents.run(vertices, edges, maxIter = 10))
    assert(e.getMessage.contains("fixpoint"))
  }

  test("runLocal (driver union-find, the serving path's CC) == run on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val ids = (0 until n).map(i => f"v-$i%04d")
      val edgeSeq = (0 until n).map { _ =>
        val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
        if (a < b) (a, b) else (b, a)
      }.filter(e => e._1 != e._2).distinct
      val distributed = ConnectedComponents.run(
        ids.toDF("id"), edgeSeq.toDF("src", "dst"), maxIter = 100)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val local = ConnectedComponents.runLocal(ids, edgeSeq)
      // runLocal labels every vertex it saw; vertices absent from edges are
      // their own singleton in both
      assert(ids.forall(v => local.getOrElse(v, v) == distributed(v)),
        s"trial $trial diverged")
    }
  }

  test("runLocal and runAdaptive label by Spark's string order, not UTF-16 order") {
    import spark.implicits._
    // "Ａ" (U+FF21) < "😀" (U+1F600) in code points (= Spark's UTF-8 byte
    // order); UTF-16 puts the surrogate pair first
    val edgeSeq = Seq(("😀-b", "Ａ-a"), ("Ａ-a", "ｚ-c"), ("😀😀", "😀-d"))
    val ids = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct
    val distributed = ConnectedComponents.run(ids.toDF("id"), edgeSeq.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(distributed("😀-b") == "Ａ-a" && distributed("😀😀") == "😀-d")
    assert(ConnectedComponents.runLocal(ids, edgeSeq) == distributed)
    val adaptive = ConnectedComponents.runAdaptive(ids.toDF("id"), edgeSeq.toDF("src", "dst"),
      graft.config.DedupConfig.default)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(adaptive == distributed)
  }

  test("pointer jumping is a no-op on star-shaped dedup graphs (same labels, same fixpoint)") {
    import spark.implicits._
    // two stars + a bridge, the generator shape: reps v-0000 and v-0100
    val edges = (Seq(("v-0000", "v-0001"), ("v-0000", "v-0002"), ("v-0000", "v-0003"),
      ("v-0100", "v-0101"), ("v-0100", "v-0102"), ("v-0003", "v-0100")))
      .toDF("src", "dst")
    val vertices = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val a = ConnectedComponents.run(vertices, edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = ConnectedComponents.run(vertices, edges, pointerJump = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
    assert(a.forall(_._2 == "v-0000"))
  }
}
