package graft.cluster

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.DedupConfig
import graft.util.DriverRows

/**
 * Iterative DataFrame connected components: min-label propagation to a
 * fixpoint (SURVEY.md §2.4 JN4 — replaces the reference's sequential
 * `parent_bug_id` star assignment, `app/services/duplicate_detector.py:80-94`,
 * with an order-independent equivalent).
 *
 * Why plain propagation by default: dedup clusters are shallow — every
 * generator links members to a GROUP REPRESENTATIVE (exact/norm/phash rep
 * maps are min-id stars by construction, band-bucket pairs share the bucket
 * rep through the grid join, substring pairs expand through the norm rep),
 * so component diameter is bounded by the number of DISTINCT generators
 * that can chain one hop each (star center to star center), ≈ 4-6 hops, not
 * by corpus size. Each round is one shuffle (join + groupBy min);
 * `localCheckpoint` truncates the lineage each round so plans stay flat.
 *
 * The bound is a property of the generators, NOT of arbitrary edge sets —
 * a caller feeding raw chain-shaped edges (QA force-links daisy-chained by
 * hand, an external edge table) can exceed it. Two defenses:
 *
 *  - `pointerJump = true` adds a path-halving step per round (label ←
 *    label(label), the classic pointer-jumping of PRAM CC / Hash-to-Min):
 *    propagation distance DOUBLES per round, so convergence is
 *    O(log diameter) rounds at the cost of one extra self-join shuffle per
 *    round. CcSpec proves a 64-deep chain converges in ≤ 9 rounds.
 *  - truncation is an ERROR, never silent: if the loop hits `maxIter`
 *    without an observed fixpoint, run() throws instead of returning labels
 *    that may split one component into several.
 *
 * Only vertices that appear in an edge participate in the loop — singletons
 * (the overwhelming majority at web scale) never enter the shuffle and get
 * their own id as cluster label via the final left join.
 */
object ConnectedComponents {

  /**
   * @param vertices    one string-id column named `id`
   * @param edges       (src, dst) string-id pairs
   * @param maxIter     fixpoint-observation budget; exceeding it THROWS
   * @param pointerJump add per-round path halving (O(log d) convergence for
   *                    deep components; +1 shuffle/round)
   * @return (id, cluster_id) — cluster_id = min id in the component
   */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50,
      pointerJump: Boolean = false): DataFrame = {
    val spark: SparkSession = vertices.sparkSession

    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))

    // lazy localCheckpoint: materialization rides the hashSum job below, so
    // each round costs ONE job (checkpoint + convergence check together)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)

    // convergence via label-hash sum: labels only ever DECREASE per vertex
    // (min propagation; path halving composes mins, so it only decreases
    // too), so the multiset of labels is unchanged iff no vertex changed —
    // comparing one aggregated hash sum per round replaces a join + count
    // action (collision-cancellation odds ~2^-64).
    // decimal(38,0) so ANSI mode can't overflow the sum of 2^63-scale hashes
    def hashSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.select(coalesce(sum(xxhash64(col("label")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))
        .collect()(0).getDecimal(0)

    var iter = 0
    var converged = false
    // no pre-loop hashSum: iteration 1 always changes a label when any
    // edge exists (initial labels are own ids, so the larger endpoint of
    // some edge must drop), so the first comparison point is iteration 1's
    // sum — one driver job and one sync fewer per run
    var prevSum: java.math.BigDecimal = null
    while (iter < maxIter && !converged) {
      val msgs = sym.join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("label"))
      val prop = labels.select("id", "label").union(msgs)
        .groupBy("id").agg(min("label").as("label"))
      // path halving: every label is the id of some vertex in the SAME
      // component (true initially, preserved by min-composition), so
      // label ← min(label, label(label)) stays in-component and doubles
      // the distance information travels per round
      val next = (if (!pointerJump) prop
        else {
          val parent = prop.select(col("id").as("label"), col("label").as("__ll"))
          prop.join(parent, Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("__ll"), col("label"))).as("label"))
        }).localCheckpoint(false)
      val nextSum = hashSum(next)
      labels = next
      converged = prevSum != null && nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not reach a fixpoint within $maxIter " +
          "iterations — the edge set has components deeper than the " +
          "generator-derived bound; raise maxCcIterations or run with " +
          "pointerJump = true (O(log diameter) rounds)")

    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /**
   * Count-gated CC: identical labels to `run` (cluster_id = min member id —
   * CcSpec pins runLocal == run), but when the edge set fits
   * `cfg.driverBudget` the per-round Spark jobs (join + agg + checkpoint +
   * hash-sum, ~2 jobs × O(diameter) rounds) collapse into ONE bounded
   * collect and a driver union-find; the label map broadcasts back and
   * singletons get their own id through the same final left join. Dedup
   * clusters are sparse by construction (edges ≪ rows — the generators link
   * members to group representatives), so the gate binds only when
   * duplicate mass is itself corpus-scale, exactly when the distributed
   * loop is the right shape anyway: at 10^12 rows the edge set is
   * corpus-shaped and no driver holds it. Past the gate `run` takes its
   * iteration cap and pointer-jump flag from `cfg` too.
   */
  def runAdaptive(vertices: DataFrame, edges: DataFrame, cfg: DedupConfig): DataFrame = {
    def distributed = run(vertices, edges, cfg.maxCcIterations, cfg.ccPointerJump)
    val pairs = edges.select(col("src"), col("dst"))
    // the union-find twin is string-keyed; non-string id columns stay on
    // the distributed loop (only the pipeline's image_id paths opt in)
    if (!pairs.schema.forall(_.dataType == org.apache.spark.sql.types.StringType))
      return distributed
    DriverRows.atMost(pairs, cfg.driverBudget).fold(distributed) { rows =>
      val labels = runLocal(Seq.empty, rows.toSeq.map(r => (r.getString(0), r.getString(1))))
      val spark = vertices.sparkSession
      import spark.implicits._
      vertices.join(broadcast(labels.toSeq.toDF("id", "label")), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
    }
  }

  /**
   * Driver-side twin of `run` for edge sets that already live on the driver
   * — the serving path's quotient graph is batch-proportional by
   * construction, so its CC never needs a cluster: a union-find here
   * replaces the per-round Spark jobs (join + agg + checkpoint + hash-sum)
   * with zero jobs. Union-by-min keeps the invariant shared with `run`:
   * every component's label is its minimum member id, in Spark's string
   * order (`LocalCandidates.compareIds`). CcSpec pins runLocal == run on
   * random graphs and on ids whose UTF-16 and UTF-8 orders disagree.
   */
  def runLocal(vertices: Seq[String],
      edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (graft.pairs.LocalCandidates.compareIds(ra, rb) < 0) parent(rb) = ra
        else parent(ra) = rb
      }
    }
    (vertices.iterator ++ edges.iterator.flatMap(e => Iterator(e._1, e._2)))
      .map(v => v -> find(v)).toMap
  }
}
