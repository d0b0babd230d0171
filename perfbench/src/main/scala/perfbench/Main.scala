package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Dedup, Incremental, Probe}
import graft.config.DedupConfig
import graft.gen.Synth
import graft.pairs.Candidates
import graft.tables.Layout
import graft.util.{Caches, Disk, Sessions}

/** Command-line arguments; run.py supplies `work`, `run-dir`, `revision` and,
  * when one is recorded for the seed, `expect-digest`. Sizes other than the
  * default are for tests. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, runDir: String, revision: String, expectDigest: Option[String],
    sizes: Sizes)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("run-dir"), m.getOrElse("revision", "unknown"),
      m.get("expect-digest").filter(_.nonEmpty), Inputs.Default)
  }
}

/** What a workload measured: per-op component timings, timed parts of the
  * set-up, and everything else the record and the result line need. */
final case class Measured(setupS: Double, attempted: Int, ops: Seq[Map[String, Double]], storage: Seq[Double],
    heapMb: Double, failedOps: Int, violations: Seq[String], digest: Option[String],
    layerExtra: Map[String, Double], setupParts: Map[String, Double] = Map.empty)

object Main {

  /** `bulk_dedup` and `bulk_resubmit` are the BENCHMARK.json workloads.
    * `ingest_waves` and `probe_serving` run on demand: each must bootstrap a
    * root first, so a run costs more than a gated run may (see README.md). */
  val Workloads = Seq("bulk_dedup", "bulk_resubmit", "ingest_waves", "probe_serving")

  /** End-to-end metrics every workload reports: (name, unit). */
  val EndToEnd = Seq("op_s" -> "s", "setup_s" -> "s",
    "storage_bytes_per_input_byte" -> "ratio", "retained_heap_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val code = try new Bench(Args.parse(argv)).run()
    catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush(); System.err.flush()
    // no lingering non-daemon thread may outlive the result
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of p90/p95/p99 with at least ten samples beyond it. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90).find(p => xs.size * (100 - p) >= 1000).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
}

final class Bench(a: Args) {
  import Main._

  private val t0 = System.nanoTime()
  private val stampStart = Stamps.now()
  private val tracer = new Tracer
  private val cfg = DedupConfig.default
  private val sz = a.sizes
  private val cpus = Runtime.getRuntime.availableProcessors()

  private def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9

  private def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Release every cache an operation left behind and collect, as graft.Bench
    * does between measurements. */
  private def isolate(spark: SparkSession, root: String): Unit = {
    Caches.releaseAll()
    Layout.releaseCaches(root)
    spark.sqlContext.clearCache()
    System.gc()
  }

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // the second collection settles what the first left to finalizers
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** `bulk_resubmit` draws the second half of its corpus as arrivals over the
    * first half; every other workload's corpus is `Synth.corpus`. */
  private val base = if (a.workload == "bulk_resubmit") sz.corpus / 2 else sz.corpus

  private def corpus(spark: SparkSession): (DataFrame, String) = {
    import spark.implicits._
    val dir = s"${a.work}/corpus"
    val (seed, n, b) = (a.seed, sz.corpus, base)
    tracer.span("Synth.corpus") {
      val rows =
        if (b == n) Synth.corpus(spark, n, seed)
        else spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
          .mapPartitions(_.map(i => Inputs.row(seed, b, i)))
      rows.write.parquet(dir)
    }
    (spark.read.parquet(dir), dir)
  }

  private def corpusHotIds: Seq[String] =
    (0L until sz.corpus).filter(Inputs.isHot(a.seed, base, _)).map(Inputs.id)

  /** Resubmissions among `count` rows from `from`: (id, id of the copied row). */
  private def resubs(from: Long, count: Int): Seq[(String, String)] =
    (from until from + count).flatMap(i =>
      Inputs.source(a.seed, base, i).map(j => (Inputs.id(i), Inputs.id(j))))

  /** Operations are started until `seconds` have passed; at least one runs. */
  private def timedLoop(body: Int => Boolean): Int = {
    val start = System.nanoTime()
    var k = 0
    var go = true
    while (go && (k == 0 || secondsSince(start) < a.seconds)) { go = body(k); k += 1 }
    k
  }

  private def digestCheck(digest: String): Seq[String] = a.expectDigest match {
    case Some(d) if d != digest => Seq(s"answer digest $digest differs from the recorded $d")
    case _ => Nil
  }

  // ---- bulk_dedup ----------------------------------------------------------
  private def bulk(spark: SparkSession): Measured = {
    val (input, corpusDir) = corpus(spark)
    val setupS = secondsSince(t0)
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    val storage = mutable.ArrayBuffer.empty[Double]
    val violations = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var digest: Option[String] = None
    var lastRoot = ""
    val attempted = timedLoop { k =>
      if (lastRoot.nonEmpty) Disk.rm(lastRoot)
      val root = s"${a.work}/root-$k"
      lastRoot = root
      try {
        var runS = 0.0
        val (_, opS) = tracer.op(k) {
          val (r, s) = tracer.span("Dedup.runCheckpointed")(
            Dedup.runCheckpointed(spark, input, root, cfg))
          runS = s
          tracer.span("clusters.count")(r.clusters.count())
        }
        val st = Checks.load(spark, root)
        val d = Checks.sha256(Checks.answerLines(st))
        val answers = st.decisions.map { case (id, (_, dec, best)) => id -> ((dec, best)) }
        val v = Checks.clusters(st, corpusHotIds) ++
          Checks.resubmissions(st, resubs(0L, sz.corpus), answers, "batch") ++
          (if (k == 0) digestCheck(d) else if (digest.contains(d)) Nil
           else Seq(s"op $k answer digest $d differs from op 0"))
        if (k == 0) digest = Some(d)
        if (v.nonEmpty) { failed += 1; violations ++= v.map(s"op $k: " + _) }
        ops += Map("bulk_run_s" -> opS, "runCheckpointed_s" -> runS,
          "bulk_images_per_sec" -> sz.corpus / opS)
        storage += bytesUnder(root).toDouble / bytesUnder(corpusDir)
        isolate(spark, root)
        true
      } catch {
        case e: Exception =>
          failed += 1; violations += s"op $k: ${e.getClass.getName}: ${e.getMessage}"
          false
      }
    }
    val heap = retainedHeapMb()
    val extra = if (a.trace && ops.nonEmpty) generatorPass(spark, lastRoot) else Map.empty[String, Double]
    Measured(setupS, attempted, ops.toSeq, storage.toSeq, heap, failed, violations.toSeq, digest, extra)
  }

  /** Traced runs only: the four candidate generators one by one over the
    * materialized features of the last root, and edges / candidate pairs. */
  private def generatorPass(spark: SparkSession, root: String): Map[String, Double] = {
    import org.apache.spark.sql.functions.col
    val clean = Layout.read(spark, root, "features").where(!col("is_low_quality")).drop("batch")
      .persist()
    val repMap = Candidates.exactRepMap(clean).persist()
    tracer.span("pairs.prepare")((clean.count(), repMap.count()))
    val reps = clean.join(repMap.where(col("image_id") === col("rep")).select("image_id"), Seq("image_id"))
    val counts = Seq(
      "pairs.exact" -> (() => Candidates.exactPairs(repMap)),
      "pairs.minhash" -> (() => Candidates.minhashPairs(reps, cfg)),
      "pairs.simhash" -> (() => Candidates.simhashPairs(clean, cfg)),
      "pairs.substring" -> (() => Candidates.substringPairs(clean, cfg)))
      .map { case (name, pairs) => s"$name.rows_out" -> tracer.span(name)(pairs().count())._1.toDouble }
    val cands = Layout.read(spark, root, "candidates").count()
    val edges = Layout.read(spark, root, "verified").where(col("is_edge")).count()
    isolate(spark, root)
    counts.toMap + ("pairs.useful_ratio" -> edges.toDouble / math.max(cands, 1L))
  }

  // ---- ingest_waves --------------------------------------------------------
  private def ingest(spark: SparkSession): Measured = {
    import org.apache.spark.sql.functions.col
    val (input, corpusDir) = corpus(spark)
    val root = s"${a.work}/root"
    tracer.span("Dedup.runCheckpointed")(Dedup.runCheckpointed(spark, input, root, cfg))
    tracer.span("Incremental.ensureIndexes")(Incremental.ensureIndexes(spark, root, cfg))
    isolate(spark, root)
    val setupS = secondsSince(t0)

    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    val storage = mutable.ArrayBuffer.empty[Double]
    val violations = mutable.ArrayBuffer.empty[String]
    val hotIds = mutable.ArrayBuffer.empty[String] ++= corpusHotIds
    var inputBytes = bytesUnder(corpusDir)
    var failed = 0
    var digest: Option[String] = None
    val cohort = mutable.ArrayBuffer.empty[Double]
    val attempted = timedLoop { k =>
      val w0 = Inputs.waveStart(sz, k)
      val p0 = Inputs.probeStart(sz, k)
      val waveDir = s"${a.work}/wave-$k"
      spark.createDataFrame(Inputs.arrivals(a.seed, sz.corpus, w0, sz.wave)).write.parquet(waveDir)
      inputBytes += bytesUnder(waveDir)
      val wave = spark.read.parquet(waveDir)
      val probeInput = spark.createDataFrame(Inputs.arrivals(a.seed, sz.corpus, p0, sz.probe))
      val batch = s"w$k"
      hotIds ++= (w0 until w0 + sz.wave).filter(Inputs.isHot(a.seed, sz.corpus, _)).map(Inputs.id)
      try {
        var epochS = 0.0; var probeS = 0.0
        var stampsBefore = Map.empty[String, String]
        val (outcomes, opS) = tracer.op(k) {
          epochS = tracer.span("Incremental.append")(
            Incremental.append(spark, root, wave, batch, cfg))._2
          stampsBefore = Checks.stamps(root)
          val (rows, s) = tracer.span("Probe.run")(
            Probe.run(spark, root, probeInput, cfg).outcomes
              .select("image_id", "outcome", "best_match_id").collect())
          probeS = s
          rows
        }
        val st = Checks.load(spark, root)
        val probeAnswers = outcomes.map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
        val waveAnswers = st.decisions.map { case (id, (_, dec, best)) => id -> ((dec, best)) }
        val d = Checks.sha256(Checks.answerLines(st) ++
          outcomes.map(r => s"probe\t${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}"))
        val v = Checks.clusters(st, hotIds.toSeq) ++
          Checks.resubmissions(st, resubs(w0, sz.wave), waveAnswers, "append") ++
          Checks.resubmissions(st, resubs(p0, sz.probe), probeAnswers, "probe") ++
          (if (probeAnswers.size != sz.probe) Seq(s"probe answered ${probeAnswers.size} of ${sz.probe} rows") else Nil) ++
          (if (Checks.stamps(root) != stampsBefore) Seq("Probe.run changed a manifest stamp") else Nil) ++
          (if (k == 0) digestCheck(d) else Nil)
        if (k == 0) digest = Some(d)
        if (v.nonEmpty) { failed += 1; violations ++= v.map(s"op $k: " + _) }
        ops += Map("epoch_s" -> epochS, "reopen_probe_s" -> probeS, "op_s" -> opS,
          "epoch_rows_per_sec" -> sz.wave / epochS)
        storage += bytesUnder(root).toDouble / inputBytes
        if (a.trace) {
          val cands = Layout.partitionRows(root, "candidates").getOrElse(batch, 0L)
          val edges = Layout.read(spark, root, "verified")
            .where(col("batch") === batch && col("is_edge")).count()
          cohort += edges.toDouble / math.max(cands, 1L)
        }
        isolate(spark, root)
        true
      } catch {
        case e: Exception =>
          failed += 1; violations += s"op $k: ${e.getClass.getName}: ${e.getMessage}"
          false
      }
    }
    val heap = retainedHeapMb()
    val extra = if (cohort.nonEmpty) Map("incremental.cohort.useful_ratio" -> median(cohort.toSeq))
      else Map.empty[String, Double]
    Measured(setupS, attempted, ops.toSeq, storage.toSeq, heap, failed, violations.toSeq, digest, extra)
  }

  // ---- probe_serving -------------------------------------------------------
  /** Read-only serving. Each operation is one small and one large
    * `Probe.run` against a bootstrapped root. The serving context stays open
    * between requests, as a long-lived serving process keeps it, so nothing
    * is released between operations. */
  private def serve(spark: SparkSession): Measured = {
    val (input, corpusDir) = corpus(spark)
    val root = s"${a.work}/root"
    tracer.span("Dedup.runCheckpointed")(Dedup.runCheckpointed(spark, input, root, cfg))
    isolate(spark, root)
    def request(from: Long, rows: Int): DataFrame =
      spark.createDataFrame(Inputs.arrivals(a.seed, sz.corpus, from, rows))
    def probe(df: DataFrame): (Array[Row], Double) = tracer.span("Probe.run")(
      Probe.run(spark, root, df, cfg).outcomes.select("image_id", "outcome", "best_match_id").collect())
    val st = Checks.load(spark, root)
    def check(rows: Array[Row], from: Long, n: Int, what: String): Seq[String] = {
      val answers = rows.map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
      Checks.resubmissions(st, resubs(from, n), answers, what) ++
        (if (answers.size != n) Seq(s"$what answered ${answers.size} of $n rows") else Nil)
    }
    // the opening request builds the indexes and loads the serving context
    val (opening, coldS) = probe(request(sz.corpus, sz.probe))
    val violations = mutable.ArrayBuffer.empty[String] ++= check(opening, sz.corpus, sz.probe, "opening probe")
    val setupS = secondsSince(t0)

    val stampsBefore = Checks.stamps(root)
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    var failed = 0
    var digest: Option[String] = None
    val attempted = timedLoop { k =>
      val (s0, l0) = (Inputs.requestStart(sz, k, large = false), Inputs.requestStart(sz, k, large = true))
      val (small, large) = (request(s0, sz.probe), request(l0, sz.probeLarge))
      try {
        var smallS = 0.0; var largeS = 0.0
        val ((smallRows, largeRows), opS) = tracer.op(k) {
          val (sr, s1) = probe(small); smallS = s1
          val (lr, s2) = probe(large); largeS = s2
          (sr, lr)
        }
        val d = Checks.sha256(Checks.answerLines(st) ++ (smallRows ++ largeRows).toSeq.map(r =>
          s"probe\t${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}"))
        val v = check(smallRows, s0, sz.probe, "small probe") ++
          check(largeRows, l0, sz.probeLarge, "large probe") ++
          (if (Checks.stamps(root) != stampsBefore) Seq("Probe.run changed a manifest stamp") else Nil) ++
          (if (k == 0) digestCheck(d) else Nil)
        if (k == 0) digest = Some(d)
        if (v.nonEmpty) { failed += 1; violations ++= v.map(s"op $k: " + _) }
        ops += Map("probe_small_s" -> smallS, "probe_large_s" -> largeS, "op_s" -> opS,
          "probe_rows_per_sec" -> (sz.probe + sz.probeLarge) / opS)
        true
      } catch {
        case e: Exception =>
          failed += 1; violations += s"op $k: ${e.getClass.getName}: ${e.getMessage}"
          false
      }
    }
    val heap = retainedHeapMb()
    val storage = bytesUnder(root).toDouble / bytesUnder(corpusDir)
    Measured(setupS, attempted, ops.toSeq, Seq(storage), heap, failed, violations.toSeq, digest,
      Map.empty, Map("probe_opening_s" -> coldS))
  }

  // ---- run and report ------------------------------------------------------
  def run(): Int = {
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val (spark, _) = tracer.span("setup.session")(Sessions.build("perfbench", cpus.toString,
      Map("spark.local.dir" -> s"${a.work}/local")))
    if (a.trace) spark.sparkContext.addSparkListener(tracer.jobs)
    val m = try {
      val m = a.workload match {
        case "ingest_waves" => ingest(spark)
        case "probe_serving" => serve(spark)
        case _ => bulk(spark)
      }
      if (a.trace) org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      m
    } finally {
      try spark.stop() catch { case _: Throwable => }
      Disk.rm(s"${a.work}/local")
    }
    report(m)
  }

  private def report(m: Measured): Int = {
    val attempted = m.attempted
    val opKey = if (a.workload.startsWith("bulk")) "bulk_run_s" else "op_s"
    val endToEnd = Map(
      "op_s" -> median(m.ops.map(_(opKey))),
      "setup_s" -> m.setupS,
      "storage_bytes_per_input_byte" -> median(m.storage),
      "retained_heap_mb" -> m.heapMb)
    // the workload's own metric names, with unit and sample count
    val named = mutable.LinkedHashMap[String, Any]()
    def put(name: String, unit: String, xs: Seq[Double]): Unit = {
      named(name) = Map("value" -> median(xs), "unit" -> unit, "samples" -> xs.size)
      tailPercentile(xs).foreach { case (p, v) =>
        named(s"${name}_p$p") = Map("value" -> v, "unit" -> unit, "samples" -> xs.size)
      }
    }
    m.ops.headOption.getOrElse(Map.empty).keys.toSeq.sorted.foreach { k =>
      put(k, if (k.endsWith("per_sec")) "1/s" else "s", m.ops.map(_(k)))
    }
    put("setup_s", "s", Seq(m.setupS))
    m.setupParts.foreach { case (k, v) => put(k, "s", Seq(v)) }
    put("storage_bytes_per_input_byte", "ratio", m.storage)
    put("retained_heap_mb", "MB", Seq(m.heapMb))
    named("failed_op_share") = Map("value" -> m.failedOps.toDouble / math.max(attempted, 1),
      "unit" -> "ratio", "samples" -> attempted)

    val metrics: Map[String, Any] = if (a.trace) {
      val rollup = Layers.rollup(tracer.all, tracer.jobs.jobs, m.layerExtra)
      Layers.namesFor(a.workload).map(n => n -> Map("value" -> rollup(n), "unit" -> Layers.unit(n))).toMap
    } else EndToEnd.map { case (n, u) => n -> Map("value" -> endToEnd(n), "unit" -> u) }.toMap

    val correct = m.failedOps == 0 && m.violations.isEmpty
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "revision" -> a.revision,
      "sizes" -> Map("corpus_rows" -> sz.corpus, "wave_rows" -> sz.wave, "probe_rows" -> sz.probe,
        "probe_large_rows" -> sz.probeLarge),
      "nproc" -> cpus, "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "stamps_start" -> stampStart, "stamps_end" -> Stamps.now(),
      "wall_s" -> secondsSince(t0), "metrics" -> named, "digest" -> m.digest.getOrElse(""),
      "digest_recorded" -> a.expectDigest.isDefined, "violations" -> m.violations.take(50))
    val dir = new java.io.File(a.runDir)
    dir.mkdirs()
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    write("record.json", Seq(Json.render(record)))
    if (a.trace) {
      write("spans.jsonl", Layers.spanLines(tracer.all, tracer.jobs.jobs, t0))
      write("rollup.json", Seq(Json.render(metrics)))
    }
    println(Json.render(Map("record" -> record)))
    println(Json.render(mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> attempted, "failed" -> m.failedOps, "metrics" -> metrics)))
    if (correct) 0 else 1
  }
}
