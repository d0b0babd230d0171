package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.config.DedupConfig
import graft.gen.ImageRow
import graft.tables.Layout
import graft.{Dedup, Incremental}

/**
 * Structured Streaming front-end for the dedup pipeline (builder-prompt
 * §2.9): `readStream` over an arrival directory of image+caption parquet,
 * micro-batches applied through `foreachBatch` → `Incremental.append`, so
 * every stage table under `root` stays continuously up to date with
 * per-batch lineage (batch id = the stream's epoch id).
 *
 * This is the streaming twin of the reference's request-driven
 * `process_incoming_bug` (`app/services/duplicate_detector.py:51-97`): each
 * micro-batch is deduplicated against EVERYTHING that arrived before it —
 * exact groups, LSH band buckets, phash combos and suffix keys are probed
 * incrementally (affected slices only, see Incremental), then the global
 * cluster/decision/audit tables are re-derived.
 *
 * Ordering contract: files must arrive with increasing image_ids (arrival
 * order), the same assumption the reference's sequential rule and the
 * incremental path already make. `maxFilesPerTrigger(1)` keeps micro-batch
 * boundaries aligned with arrival files so batch ids are deterministic in
 * tests.
 */
object StreamingDedup {

  val InputSchema: StructType = Encoders.product[ImageRow].schema

  /**
   * Event-time ingest monitoring: a STATEFUL streaming aggregation (unlike
   * the foreachBatch pipeline above, which is stateless per epoch) over the
   * arrival stream — per event-time window and format, arrival counts,
   * low-quality counts and mean quality score. The streaming twin of the
   * reference's `created_at`-indexed monitoring tables
   * (`migrations/schema.sql:40,54` — every table carries created_at with a
   * time index; the stats endpoints bucket on it), which the batch side
   * covers with q07/q09/q37.
   *
   * `withWatermark(lateness)` bounds the state: windows older than
   * max(event_ts) − lateness are finalized and their state dropped, and
   * rows arriving later than that are discarded — without it a 10^12-row
   * stream accumulates unbounded window state. The aggregation is a plain
   * groupBy(window, fmt): partial aggregation applies map-side, state is
   * keyed by (window, fmt) — thousands of keys, not rows — so the shuffle
   * carries one row per key per micro-batch regardless of input volume.
   *
   * `arrivals` must carry the ImageRow columns plus an `event_ts`
   * timestamp (attached by the deployment: upstream created_at, or the
   * arrival file's commit time). Returns an unstarted streaming DataFrame;
   * the caller picks sink + output mode (`update` for a live dashboard,
   * `append` for an immutable metrics log that emits each window once,
   * finalized).
   */
  def ingestMonitor(arrivals: DataFrame, cfg: DedupConfig = DedupConfig.default,
      windowLen: String = "1 minute", lateness: String = "2 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    val issues = graft.quality.Quality.issuesCol(col("caption"), cfg)
    val qscore = graft.quality.Quality.scoreCol(issues)
    arrivals
      .withWatermark("event_ts", lateness)
      .groupBy(window(col("event_ts"), windowLen), col("fmt"))
      .agg(
        count(lit(1)).as("arrivals"),
        sum(when(graft.quality.Quality.isLowQualityCol(issues), 1L).otherwise(0L)).as("low_quality"),
        round(avg(qscore), 4).as("avg_quality"),
        round(avg(length(col("caption"))), 2).as("avg_caption_len"))
  }

  /**
   * Start the streaming dedup into `root`. The first micro-batch
   * bootstraps the root via the full checkpointed run; later batches
   * append incrementally. `Trigger.AvailableNow` drains everything
   * currently in `inputDir` and stops — the batch-job-shaped deployment;
   * pass a processing-time trigger for a long-running stream.
   */
  def start(spark: SparkSession, inputDir: String, root: String,
      cfg: DedupConfig = DedupConfig.default,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream
      .schema(InputSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)

    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$root/_stream_checkpoint"))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        absorb(spark, batch, root, epochId, cfg)
      }
      .start()
  }

  /** Apply one micro-batch: bootstrap on the first, append on the rest.
    * Idempotent per epoch: an epoch marker commits AFTER the batch lands,
    * so a redelivered epoch (foreachBatch's at-least-once contract) is a
    * no-op rather than a double-append; within a partially-applied epoch,
    * the per-partition manifests skip slices already recorded
    * (ResumeSpec's re-append case).
    *
    * Bootstrap-vs-append is decided by a DURABLE `_bootstrap_epoch` marker
    * written BEFORE the bootstrap run starts — not by probing stage
    * manifests. If the bootstrap epoch crashes after the features manifest
    * lands but before its epoch marker, the redelivered epoch must route
    * back through `runCheckpointed` (which resumes stage-by-stage); a
    * manifest probe would route the SAME rows into `Incremental.append`,
    * duplicating the entire bootstrap corpus. All markers go through the
    * Hadoop filesystem of `root`'s scheme (cluster-portable). */
  def absorb(spark: SparkSession, batch: DataFrame, root: String,
      epochId: Long, cfg: DedupConfig): Unit = {
    val marker = s"$root/_epoch_$epochId"
    if (Layout.markerExists(marker) || batch.isEmpty) return
    val bootPath = s"$root/_bootstrap_epoch"
    val raw = Layout.markerRead(bootPath)
    val bootEpoch = raw.flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    // an unparsable marker means the bootstrap epoch crashed mid-write
    // (pre-atomic roots, or a store without atomic rename): treat it as
    // bootstrap-in-progress so the redelivered epoch routes back through
    // runCheckpointed (which resumes stage-by-stage) instead of wedging
    // every redelivery on a parse error
    val bootInProgress = raw.nonEmpty && bootEpoch.isEmpty
    if (bootEpoch.contains(epochId) || bootInProgress ||
        (raw.isEmpty && !Layout.isComplete(root, "features"))) {
      if (bootEpoch.isEmpty) Layout.markerWrite(bootPath, epochId.toString)
      graft.util.Caches.scoped(root) { Dedup.runCheckpointed(spark, batch, root, cfg) }
    } else {
      graft.util.Caches.scoped(root) { Incremental.append(spark, root, batch, s"s$epochId", cfg) }
    }
    Layout.markerWrite(marker, "done")
    // per-epoch cache hygiene: the operator-level persists (band cohorts
    // etc.) are superseded next epoch; without the release their
    // disk-spilled blocks accumulate for the life of the stream. Scoped to
    // THIS stream's frames — a global release would unpersist concurrent
    // work's caches (another stream, interactive memoized twins in the same
    // JVM)
    graft.util.Caches.release(root)
  }
}
