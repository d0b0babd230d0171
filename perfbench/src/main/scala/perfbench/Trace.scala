package perfbench

import scala.collection.mutable

/** A benchmark-side span around one call into the engine. `op` is the timed
  * operation it belongs to (-1 for set-up and checks). */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/**
 * Span recorder. Spans are kept in memory for every run (their timings are
 * the end-to-end numbers); the job listener is attached only in traced runs,
 * and only traced runs write the spans file and the per-layer rollup.
 * Spans are opened by the single client thread, so they nest strictly.
 */
final class Tracer {
  val jobs = new JobLog
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1

  def span[A](name: String)(f: => A): (A, Double) = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, opId, System.nanoTime(), 0L)
    stack = id :: stack
    val t0 = spans(id).startNs
    try {
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
    }
  }

  /** A timed operation: its spans carry operation id `k`. */
  def op[A](k: Int)(f: => A): (A, Double) = {
    opId = k
    try span("op")(f) finally opId = -1
  }

  def all: Seq[Span] = spans.toList
}

/**
 * Per-layer rollup of a traced run. Layers are named after the engine's
 * modules; jobs are attributed to them from the innermost benchmark span
 * they started in and the `graft:<stage>[/<batch>]` / `probe:<label>` job
 * descriptions the engine sets.
 */
object Layers {

  val BulkLayers = Seq("features", "pairs.candidates", "pairs.verify", "cluster.cc",
    "dedup.decide", "tables.write")
  val BulkMeasures = Seq("busy_s", "jobs", "stages", "tasks", "run_core_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "output_bytes", "rows_out")
  val Generators = Seq("pairs.exact", "pairs.minhash", "pairs.simhash", "pairs.substring")
  val GeneratorMeasures = Seq("busy_s", "jobs", "stages", "tasks", "run_core_s",
    "shuffle_bytes", "rows_out")
  val IncrementalLayers = Seq("incremental.rowlocal", "incremental.cohort",
    "incremental.global", "incremental.index")
  val IncrementalMeasures = Seq("busy_s", "self_s", "jobs", "stages", "tasks", "run_core_s",
    "shuffle_bytes", "output_bytes")
  val ProbeOpenMeasures = Seq("busy_s", "jobs")
  val ProbeChainMeasures = Seq("busy_s", "jobs", "stages", "tasks", "run_core_s")

  /** Every per-layer metric of the BENCHMARK.json workloads, in its order. */
  val Names: Seq[String] =
    (for (l <- BulkLayers; m <- BulkMeasures) yield s"$l.$m") ++
      (for (l <- Generators; m <- GeneratorMeasures) yield s"$l.$m") ++
      Seq("pairs.useful_ratio", "driver.gap_s", "trace.op_s")

  /** The append and probe layers. Only the on-demand workloads run them, so
    * they are not in BENCHMARK.json and only those workloads report them. */
  val OnDemandNames: Seq[String] =
    (for (l <- IncrementalLayers; m <- IncrementalMeasures) yield s"$l.$m") ++
      ProbeOpenMeasures.map("probe.open." + _) ++
      ProbeChainMeasures.map("probe.chains." + _) ++
      Seq("incremental.cohort.useful_ratio", "probe.jobs_per_request")

  /** The per-layer metrics a traced run of `workload` reports. */
  def namesFor(workload: String): Seq[String] =
    if (workload.startsWith("bulk")) Names else Names ++ OnDemandNames

  def unit(name: String): String = name.split('.').last match {
    case "busy_s" | "self_s" | "run_core_s" | "gc_s" | "gap_s" | "op_s" => "s"
    case "shuffle_bytes" | "spill_bytes" | "output_bytes" => "bytes"
    case "useful_ratio" => "ratio"
    case _ => "count"
  }

  def better(name: String): String = if (name.endsWith("useful_ratio")) "higher" else "lower"

  private val BulkStage = Map(
    "features" -> "features", "low_quality" -> "features",
    "candidates" -> "pairs.candidates", "verified" -> "pairs.verify",
    "clusters" -> "cluster.cc",
    "recurring" -> "dedup.decide", "decisions" -> "dedup.decide",
    "audit" -> "dedup.decide", "duplicate_history" -> "dedup.decide")

  private val AppendStage = Map(
    "features" -> "incremental.rowlocal", "low_quality" -> "incremental.rowlocal",
    "rep_map" -> "incremental.index", "norm_map" -> "incremental.index",
    "banded" -> "incremental.index", "banded_simhash" -> "incremental.index",
    "suffix_keys" -> "incremental.index",
    "candidates" -> "incremental.cohort", "verified" -> "incremental.cohort",
    "clusters" -> "incremental.global", "recurring" -> "incremental.global",
    "decisions" -> "incremental.global", "audit" -> "incremental.global",
    "duplicate_history" -> "incremental.global")

  private def stageOf(desc: String): Option[String] =
    if (desc.startsWith("graft:")) Some(desc.stripPrefix("graft:").takeWhile(_ != '/')) else None

  // ---- interval arithmetic over [start, end) nanosecond intervals ----------
  type Iv = (Long, Long)
  def union(ivs: Seq[Iv]): List[Iv] =
    ivs.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  def length(u: Seq[Iv]): Long = u.map { case (s, e) => e - s }.sum
  def intersect(a: List[Iv], b: List[Iv]): Long =
    (for ((s1, e1) <- a; (s2, e2) <- b) yield math.max(0L, math.min(e1, e2) - math.max(s1, s2))).sum

  /** A job tagged with its layer and the benchmark span it started in. */
  final case class Tagged(job: JobRec, layer: String, span: Span)

  /** Attribute jobs to layers. Unlabeled jobs of an append are cohort work
    * (batch-key collects and cohort fetches of the generator chains) until
    * the first global-stage job starts, and global work (run metrics, lineage)
    * after it; unlabeled jobs of the pipeline are run metrics and table
    * appends (`tables.write`). */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): Seq[Tagged] = {
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.startNs <= t && t <= s.endNs).sortBy(s => -s.startNs).headOption
    val tagged = jobs.sortBy(_.startNs).flatMap(j => innermost(j.startNs).map(s => (j, s)))
    val firstGlobal = tagged.collect {
      case (j, s) if s.name == "Incremental.append" &&
          stageOf(j.description).flatMap(AppendStage.get).contains("incremental.global") =>
        (s.id, j.startNs)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    tagged.map { case (j, s) =>
      val layer = s.name match {
        case "Dedup.runCheckpointed" =>
          stageOf(j.description).flatMap(BulkStage.get).getOrElse("tables.write")
        case "clusters.count" => "tables.write"
        case "Incremental.append" =>
          stageOf(j.description).flatMap(AppendStage.get).getOrElse(
            if (firstGlobal.get(s.id).exists(_ <= j.startNs)) "incremental.global"
            else "incremental.cohort")
        case "Incremental.ensureIndexes" => "incremental.index"
        case "Probe.run" =>
          if (j.description.startsWith("probe:")) "probe.chains" else "probe.open"
        case other => other
      }
      Tagged(j, layer, s)
    }
  }

  /**
   * Per-op layer measures, averaged over the timed operations, plus the
   * traced-only generator spans. `extra` carries the measures that come from
   * outputs rather than jobs (useful ratios, generator pair counts).
   */
  def rollup(spans: Seq[Span], jobs: Seq[JobRec], extra: Map[String, Double]): Map[String, Double] = {
    val tagged = attribute(spans, jobs)
    val opSpans = spans.filter(s => s.name == "op" && s.op >= 0)
    val nOps = math.max(opSpans.size, 1).toDouble
    val out = mutable.LinkedHashMap[String, Double]()
    (Names ++ OnDemandNames).foreach(out(_) = 0.0)

    def add(name: String, v: Double): Unit = if (out.contains(name)) out(name) += v
    val byLayer = tagged.groupBy(_.layer)
    byLayer.foreach { case (layer, ts) =>
      // generator spans run once, after the timed phase; every other layer
      // counts only the jobs of timed operations
      val generator = Generators.contains(layer)
      val perOp = if (generator) 1.0 else nOps
      val use = if (generator) ts else ts.filter(_.span.op >= 0)
      val js = use.map(_.job)
      val own = union(js.map(j => (j.startNs, j.endNs)))
      val others = union(tagged.filter(t => t.layer != layer && t.span.op >= 0 &&
        use.exists(_.span.op == t.span.op)).map(t => (t.job.startNs, t.job.endNs)))
      add(s"$layer.busy_s", length(own) / 1e9 / perOp)
      add(s"$layer.self_s", (length(own) - intersect(own, others)) / 1e9 / perOp)
      add(s"$layer.jobs", js.size / perOp)
      add(s"$layer.stages", js.map(_.stages).sum / perOp)
      add(s"$layer.tasks", js.map(_.tasks).sum / perOp)
      add(s"$layer.run_core_s", js.map(_.runCoreS).sum / perOp)
      add(s"$layer.gc_s", js.map(_.gcS).sum / perOp)
      add(s"$layer.shuffle_bytes", js.map(_.shuffleBytes).sum / perOp)
      add(s"$layer.spill_bytes", js.map(_.spillBytes).sum / perOp)
      add(s"$layer.output_bytes", js.map(_.outputBytes).sum / perOp)
      if (!generator) add(s"$layer.rows_out", js.map(_.outputRows).sum / perOp)
    }
    // probe.open is the driver time of a probe call before its first chain job
    val probeSpans = spans.filter(s => s.name == "Probe.run" && s.op >= 0)
    if (probeSpans.nonEmpty) {
      out("probe.open.busy_s") = probeSpans.map { s =>
        val firstChain = tagged.filter(t => t.span.id == s.id && t.layer == "probe.chains")
          .map(_.job.startNs).minOption.getOrElse(s.endNs)
        (firstChain - s.startNs) / 1e9
      }.sum / probeSpans.size
      out("probe.jobs_per_request") =
        tagged.count(t => probeSpans.exists(_.id == t.span.id)).toDouble / probeSpans.size
    }
    if (opSpans.nonEmpty) {
      out("driver.gap_s") = opSpans.map { s =>
        val busy = union(tagged.filter(_.span.op == s.op).map(t =>
          (math.max(t.job.startNs, s.startNs), math.min(t.job.endNs, s.endNs))))
        (s.endNs - s.startNs - length(busy)) / 1e9
      }.sum / nOps
      out("trace.op_s") = opSpans.map(s => (s.endNs - s.startNs) / 1e9).sum / nOps
    }
    extra.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Spans and jobs as JSON lines: name, start, end, parent, operation id. */
  def spanLines(spans: Seq[Span], jobs: Seq[JobRec], t0: Long): Seq[String] = {
    def s(ns: Long) = (ns - t0) / 1e9
    val own = spans.map(sp => Json.render(Map("id" -> sp.id, "name" -> sp.name,
      "parent" -> sp.parent, "op" -> sp.op, "start_s" -> s(sp.startNs), "end_s" -> s(sp.endNs))))
    val js = attribute(spans, jobs).map { t =>
      Json.render(Map("id" -> s"job-${t.job.id}", "name" -> t.layer, "parent" -> t.span.id,
        "op" -> t.span.op, "start_s" -> s(t.job.startNs), "end_s" -> s(t.job.endNs),
        "description" -> t.job.description, "tasks" -> t.job.tasks,
        "run_core_s" -> t.job.runCoreS, "shuffle_bytes" -> t.job.shuffleBytes))
    }
    own ++ js
  }
}
