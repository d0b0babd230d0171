package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}

/**
 * Iceberg-layout table facade (SURVEY.md §1.3): partitioned Parquet plus a
 * JSON snapshot/manifest file per stage, giving the semantics the north rule
 * asks of Iceberg tables — snapshot-scoped resumability, PER-PARTITION
 * manifest entries (so an appended input partition recomputes only its own
 * slice of each upstream stage), per-stage lineage and metrics rows —
 * without the (absent, offline env) iceberg-spark-runtime jar. A real
 * Iceberg catalog is a drop-in replacement for this object.
 *
 * All manifest/marker IO goes through Hadoop `FileSystem` resolved from the
 * root's scheme, NOT `java.nio.file` — the 100-TB deployment points `root`
 * at `hdfs://`/`s3a://`, and the facade must follow the data. Local paths
 * and `file:` URIs hit the local filesystem exactly as before.
 *
 * Job economy (the round-1 fixed-cost lesson — 35 driver jobs per run):
 *  - `write` runs ONE Spark job: the row count rides the write itself via
 *    `Observation` instead of a read-back count; the file count comes from
 *    a filesystem listing, not a second scan.
 *  - `read` runs NO job: the read schema comes from the manifest, not from
 *    a footer-inference scan.
 *  - lineage rows are buffered per run and flushed once (`flushLineage`),
 *    not one tiny write job per stage.
 *  - manifest row counts are readable without any job (`manifestRows`), so
 *    run-level metrics need no extra count() actions.
 *
 * Reference analog: FAISS index persistence + rebuild
 * (`app/utils/vector_store.py:138-163`, `app/tasks.py:157-185`) and the
 * `audit_log` / `system_metrics` append tables
 * (`migrations/schema.sql:126-178`).
 */
object Layout {

  /** Hadoop conf from the active session when there is one (so `--conf
    * spark.hadoop.*` credentials reach the facade), else defaults. */
  private def hconf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(hconf)

  // ---- scheme-portable marker/string IO (also used by StreamingDedup) -----

  def markerExists(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).exists(p)
  }

  def markerRead(path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsFor(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** Atomic overwrite: write a sibling temp file, then rename into place.
    * A direct overwrite-create truncates first — a crash mid-write leaves a
    * corrupt marker/manifest that wedges exactly the crash-recovery path
    * these files exist for (a truncated `_MANIFEST.json` loses the
    * partition-rows map; a truncated `_bootstrap_epoch` wedges redelivered
    * epochs). Rename is atomic on HDFS and local; when it won't overwrite
    * (HDFS with an existing destination) the delete+rename fallback's crash
    * window leaves the destination ABSENT — read as "incomplete", the safe
    * direction. On stores without atomic rename (s3a) this degrades to the
    * narrower copy window. */
  def markerWrite(path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(p)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"atomic marker rename failed: $tmp -> $p")
    }
  }

  def markerDelete(path: String): Unit = {
    val p = new Path(path)
    fsFor(p).delete(p, false)
    ()
  }

  private def manifestPath(root: String, stage: String): String =
    s"$root/$stage/_MANIFEST.json"

  def isComplete(root: String, stage: String): Boolean =
    markerExists(manifestPath(root, stage))

  /** The stage manifest as a JSON tree, when it exists and parses. */
  private def manifest(root: String, stage: String): Option[JsonNode] =
    markerRead(manifestPath(root, stage)).flatMap(m => Try(json.readTree(m)).toOption)

  /** Per-partition row counts recorded in the stage manifest — the north
    * rule's per-partition lineage/metrics, readable with zero Spark jobs. */
  def partitionRows(root: String, stage: String): Map[String, Long] =
    manifest(root, stage).flatMap(m => Option(m.get("partitions")))
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
      .getOrElse(Map.empty)

  /** Partition values (of the stage's partition column) recorded complete. */
  def completePartitions(root: String, stage: String): Set[String] =
    partitionRows(root, stage).keySet

  /** Row count recorded in the stage manifest (-1 when absent) — zero
    * Spark jobs. */
  def manifestRows(root: String, stage: String): Long =
    manifest(root, stage).flatMap(m => Option(m.get("rows"))).fold(-1L)(_.asLong)

  private def listParquetFiles(dir: String): Long = {
    val p = new Path(dir)
    val fs = fsFor(p)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
  }

  private def writeManifest(root: String, stage: String, rows: Long,
      partitionBy: Seq[String], partitions: Map[String, Long],
      schema: String): Unit = {
    val m = json.createObjectNode()
    m.put("stage", stage).put("rows", rows).put("files", listParquetFiles(s"$root/$stage"))
    m.set[JsonNode]("schema", json.readTree(schema))
    val pb = m.putArray("partition_by")
    partitionBy.foreach(p => pb.add(p))
    val pv = m.putObject("partitions")
    partitions.toSeq.sortBy(_._1).foreach { case (k, v) => pv.put(k, v) }
    // "v" is a per-write version token: content fields (rows/files/schema)
    // can round-trip unchanged through a mutation (Qa.refreshGlobal rewrites
    // clusters with identical counts; mergeStage preserves rows by
    // construction), and readers that cache stage frames (Probe's serving
    // context) compare raw manifest stamps to detect staleness — a stamp
    // that can repeat across mutations serves stale answers (ADVICE r5)
    m.put("v", java.util.UUID.randomUUID.toString)
    markerWrite(manifestPath(root, stage), json.writeValueAsString(m))
  }

  private val json = new ObjectMapper()

  /** The `"schema"` object of a manifest ("{}" when absent or unparsable),
    * read with a JSON parser so a nested object comes back whole. */
  private[graft] def manifestSchema(manifest: String): String =
    Try(Option(json.readTree(manifest).get("schema")).fold("{}")(_.toString)).getOrElse("{}")

  /** The read schema a manifest describes: data columns in write order, then
    * the partition columns in `partition_by` order — the order Parquet
    * discovery yields. None when the manifest has no schema, or a type in it
    * does not parse. */
  private[graft] def readSchema(manifest: String): Option[StructType] = Try {
    val m = json.readTree(manifest)
    val fields = m.get("schema").fields().asScala
      .map(e => StructField(e.getKey, DataType.fromDDL(e.getValue.asText))).toSeq
    val partitionBy = m.get("partition_by").elements().asScala.map(_.asText).toSeq
    val (parts, data) = fields.partition(f => partitionBy.contains(f.name))
    require(fields.nonEmpty && parts.size == partitionBy.size)
    StructType(data ++ partitionBy.map(p => parts.find(_.name == p).get))
  }.toOption

  private def schemaJson(df: DataFrame): String = {
    val o = json.createObjectNode()
    df.schema.foreach(f => o.put(f.name, f.dataType.simpleString))
    json.writeValueAsString(o)
  }

  /** ONE-job checkpoint write: the row count is observed on the write job
    * itself. Returns the row count. */
  def write(df: DataFrame, root: String, stage: String,
      partitionBy: Seq[String] = Nil,
      partitionValue: Option[String] = None): Long = {
    val dir = s"$root/$stage"
    val obs = Observation(s"graft-$stage")
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val writer = observed.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(dir)
    val rows = obs.get("rows").asInstanceOf[Long]
    writeManifest(root, stage, rows, partitionBy,
      partitionValue.map(_ -> rows).toMap, schemaJson(df))
    rows
  }

  /** Append one PARTITION of a partitioned stage (dynamic overwrite of that
    * partition only) and record its rows in the manifest. */
  def appendPartition(df: DataFrame, root: String, stage: String,
      partitionBy: Seq[String], partitionValue: String): Long = {
    val dir = s"$root/$stage"
    val obs = Observation(s"graft-$stage-$partitionValue")
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(dir)
    val rows = obs.get("rows").asInstanceOf[Long]
    val prevRows = if (isComplete(root, stage)) math.max(manifestRows(root, stage), 0L) else 0L
    val prev = partitionRows(root, stage)
    writeManifest(root, stage, prevRows + rows, partitionBy,
      prev + (partitionValue -> rows), schemaJson(df))
    rows
  }

  /** TEST/REPAIR ONLY: drop one partition from a stage's manifest and data
    * (used to reconstruct mid-crash states in specs). */
  private[graft] def dropPartition(root: String, stage: String,
      partitionBy: String, partition: String): Unit = {
    val prev = partitionRows(root, stage)
    prev.get(partition).foreach { r =>
      val dir = new Path(s"$root/$stage/$partitionBy=$partition")
      fsFor(dir).delete(dir, true)
      markerRead(manifestPath(root, stage)).foreach { m =>
        writeManifest(root, stage, math.max(manifestRows(root, stage) - r, 0L),
          Seq(partitionBy), prev - partition, manifestSchema(m))
      }
    }
  }

  /** A stage's frame, read with the schema its manifest records, so building
    * the frame runs no Spark job. Falls back to footer inference when the
    * manifest is absent, has no schema, or does not parse. */
  def read(spark: SparkSession, root: String, stage: String): DataFrame = {
    val dir = s"$root/$stage"
    markerRead(manifestPath(root, stage)).flatMap(readSchema)
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }

  /** The stage manifest's raw content ("" when absent) — a cheap driver-side
    * change stamp: every mutation path (runStage overwrite, partition
    * append, merge, compaction) rewrites the manifest, so readers that
    * cache stage frames (Probe's serving context) can detect staleness by
    * comparing stamps, with zero Spark jobs. */
  def manifestStamp(root: String, stage: String): String =
    markerRead(manifestPath(root, stage)).getOrElse("")

  /**
   * Crash repair for the two-rename partition swaps below (mergeStage /
   * compactStage). Their swap is: rename(live → bak), rename(fresh → live).
   * A crash BETWEEN the renames leaves the partition missing from the live
   * dir with its only copy parked in the backup dir — and the next
   * mergeStage/compactStage run used to delete the backup dir wholesale on
   * entry, destroying that only copy while the manifest still counted its
   * rows (silent, unrecoverable loss; ADVICE r4). So before any swap — and
   * before deleting a stale backup — restore every backup partition whose
   * live dir is MISSING (rename back: the crash happened mid-swap and the
   * old files are the current truth). A backup partition whose live dir
   * EXISTS is a completed swap's leftover and is safe to drop with the dir.
   */
  private def restoreSwapBackups(fs: FileSystem, dir: String, bak: Path): Unit = {
    if (!fs.exists(bak)) return
    fs.listStatus(bak).foreach { st =>
      val name = st.getPath.getName // "<partitionBy>=<value>"
      if (name.contains("=")) {
        val live = new Path(s"$dir/$name")
        if (!fs.exists(live) && !fs.rename(st.getPath, live))
          throw new java.io.IOException(
            s"crash-repair restore failed: ${st.getPath} -> $live")
      }
    }
    // everything left is a completed swap's leftover copy; consume the dir
    // so an early-exit caller (nothing to compact / no matched partition)
    // doesn't leave it behind
    fs.delete(bak, true)
    ()
  }

  /**
   * MERGE-matched-update on a partitioned stage — the Iceberg `MERGE INTO
   * ... WHEN MATCHED THEN UPDATE` analog this facade fronts (the reference's
   * QA mutations flip row status / rewrite parent ids in place:
   * `app/api/qa_interface.py:56-294`, `migrations/schema.sql:78-85`).
   *
   * `updates` carries the key columns plus the columns to set; rows of the
   * stage matching an update row (equi-join on `keyCols`) get those columns
   * replaced (NULL in an update sets NULL — matching is by an explicit flag,
   * not coalesce). Copy-on-write at PARTITION granularity: only partitions
   * containing a matched key are rewritten (to a temp sibling, then swapped
   * in — Spark cannot overwrite a path it is reading); untouched partitions'
   * files are not rewritten, not even touched. Row counts per partition are
   * unchanged by construction (update-only), so the manifest stays valid.
   *
   * `updates` is QA-scale (human actions) and is broadcast; the stage side
   * only ever scans. Returns the number of matched (updated) rows.
   */
  def mergeStage(spark: SparkSession, root: String, stage: String,
      keyCols: Seq[String], partitionBy: String = "batch")(updates: DataFrame): Long = {
    val dir = s"$root/$stage"
    // crash repair FIRST: a prior merge that died mid-swap left a partition
    // only in the backup dir — it must be restored before the live dir is
    // read (the affected-partition scan below) or the backup deleted
    restoreSwapBackups(fsFor(new Path(dir)), dir, new Path(s"$root/_merge_old_$stage"))
    val cur = read(spark, root, stage)
    import org.apache.spark.sql.functions._
    // two updates for one key would fan the left join out and silently grow
    // the partition (breaking the manifest's row counts); updates is
    // QA-scale, so the uniqueness probe is one tiny job
    val nUpd = updates.count()
    val keys = updates.select(keyCols.map(col): _*).distinct()
    require(keys.count() == nUpd,
      s"mergeStage updates must be unique on (${keyCols.mkString(", ")})")
    val matchedRows = cur.join(broadcast(keys), keyCols)
    val affected = matchedRows
      .select(col(partitionBy).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    if (affected.isEmpty) return 0L
    val matched = matchedRows.count()

    val setCols = updates.columns.filterNot(keyCols.contains).filterNot(_ == partitionBy)
    val upd = updates.select(
      keyCols.map(col) ++ setCols.map(c => col(c).as(s"__u_$c")) :+ lit(true).as("__m"): _*)
    val slice = cur.where(col(partitionBy).cast("string").isin(affected.toSeq: _*))
    val outCols = cur.columns.toIndexedSeq.map { c =>
      if (setCols.contains(c)) when(col("__m"), col(s"__u_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    val tmp = s"$root/_merge_tmp_$stage"
    slice.join(broadcast(upd), keyCols, "left").select(outCols: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionBy).parquet(tmp)

    val fs = fsFor(new Path(dir))
    // two renames per partition, not delete+rename: a crash between them
    // leaves either the old partition (swap not started) or the new one
    // plus a stale backup — never a missing partition, PROVIDED entry
    // first restores any mid-swap backup (see restoreSwapBackups: deleting
    // the backup before checking would destroy a crashed swap's only copy).
    // The backup lives OUTSIDE the stage dir (an extra dir under `$dir/`
    // would be read back as a bogus partition value).
    val bak = new Path(s"$root/_merge_old_$stage")
    fs.delete(bak, true)
    fs.mkdirs(bak)
    affected.foreach { p =>
      val live = new Path(s"$dir/$partitionBy=$p")
      val fresh = new Path(s"$tmp/$partitionBy=$p")
      val old = new Path(s"$bak/$partitionBy=$p")
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"merge swap failed: $live -> $old")
      if (!fs.rename(fresh, live)) {
        fs.rename(old, live)
        throw new java.io.IOException(s"merge swap failed: $fresh -> $live")
      }
    }
    fs.delete(bak, true)
    fs.delete(new Path(tmp), true)
    // bump the manifest version: rows/partitions are unchanged by
    // construction, but stamp-readers (Probe's serving context) must see
    // that the stage's FILES moved — without this rewrite the manifest is
    // byte-identical and a cached context would keep serving pre-merge rows
    writeManifest(root, stage, math.max(manifestRows(root, stage), 0L),
      Seq(partitionBy), partitionRows(root, stage), manifestSchema(manifestStamp(root, stage)))
    matched
  }

  /**
   * Small-file compaction — the Iceberg `rewrite_data_files` maintenance
   * action this facade fronts. Incremental ingest appends ONE partition per
   * batch (`Incremental.append`), each written by as many tasks as the job
   * has slots; months of small epochs leave a stage with thousands of
   * KB-sized files whose open/footer/seek cost — not row count — dominates
   * every later scan. The reference's analog is the scheduled FAISS rebuild
   * that re-packs accumulated incremental inserts into one flat index
   * (`app/tasks.py:157-185`, `app/utils/vector_store.py:116-136`).
   *
   * Rewrites each qualifying partition's files into
   * `ceil(rows / targetRowsPerFile)` files (a `coalesce` within the
   * partition — narrow dependency, no shuffle), preserving the row multiset,
   * the partition VALUES (incremental resume and per-batch metrics key on
   * them — batches are never merged), and the manifest's row counts; only
   * the file layout changes. A partition qualifies when it has more than
   * `ceil(rows / targetRowsPerFile)` files and at least `minFiles`; already
   * compact partitions are not read, not even listed into the rewrite.
   * Swap-in is the same two-rename crash dance as `mergeStage` (old files
   * parked outside the stage dir, so a crash leaves either the old or the
   * new layout, never a missing partition), and the action is idempotent —
   * re-running it finds nothing left to compact.
   *
   * One write job per rewritten partition: compaction is offline
   * maintenance, each partition's swap is independently crash-safe, and a
   * real deployment fans the per-partition jobs across a maintenance
   * cluster. Returns (partitionsRewritten, filesBefore, filesAfter) counted
   * over the whole stage.
   */
  def compactStage(spark: SparkSession, root: String, stage: String,
      partitionBy: String = "batch", targetRowsPerFile: Long = 4L * 1024 * 1024,
      minFiles: Int = 2): (Int, Long, Long) = {
    require(isComplete(root, stage), s"cannot compact incomplete stage $stage")
    val dir = s"$root/$stage"
    val fs = fsFor(new Path(dir))
    // crash repair FIRST (see restoreSwapBackups): a compaction that died
    // mid-swap left a partition only in the backup dir; it must be restored
    // before the per-partition file listing below plans this run — and
    // before the stale backup is deleted, which would destroy the only copy
    restoreSwapBackups(fs, dir, new Path(s"$root/_compact_old_$stage"))
    val parts = partitionRows(root, stage)
    require(parts.nonEmpty, s"stage $stage has no per-partition manifest entries")

    def filesIn(p: Path): Seq[Path] = {
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
    }

    val before = listParquetFiles(dir)
    val plan = parts.toSeq.sortBy(_._1).flatMap { case (pv, rows) =>
      val target = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val have = filesIn(new Path(s"$dir/$partitionBy=$pv")).size
      if (have > target && have >= minFiles) Some((pv, target)) else None
    }
    if (plan.isEmpty) return (0, before, before)

    val tmp = s"$root/_compact_tmp_$stage"
    val bak = new Path(s"$root/_compact_old_$stage")
    fs.delete(new Path(tmp), true)
    fs.delete(bak, true)
    fs.mkdirs(bak)
    plan.foreach { case (pv, target) =>
      val live = new Path(s"$dir/$partitionBy=$pv")
      val fresh = new Path(s"$tmp/$partitionBy=$pv")
      // the partition column lives in the directory name, not the files, so
      // reading the partition dir yields exactly the stored file schema and
      // the rewrite round-trips it unchanged
      described(spark, s"graft:compact:$stage/$pv") {
        spark.read.parquet(live.toString).coalesce(target)
          .write.mode(SaveMode.Overwrite).parquet(fresh.toString)
      }
      // the job-commit marker must not ride the swap into the partition dir
      fs.delete(new Path(fresh, "_SUCCESS"), false)
      val old = new Path(s"$bak/$partitionBy=$pv")
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"compact swap failed: $live -> $old")
      if (!fs.rename(fresh, live)) {
        fs.rename(old, live)
        throw new java.io.IOException(s"compact swap failed: $fresh -> $live")
      }
    }
    fs.delete(bak, true)
    fs.delete(new Path(tmp), true)

    // rows and partition map are unchanged by construction; rewrite the
    // manifest so its `files` count reflects the new layout
    writeManifest(root, stage, math.max(manifestRows(root, stage), 0L),
      Seq(partitionBy), parts, manifestSchema(manifestStamp(root, stage)))
    (plan.size, before, listParquetFiles(dir))
  }

  /** Drop a stage's manifest so the next runStage recomputes it (the
    * Overwrite write replaces the data files). */
  def invalidate(root: String, stage: String): Unit =
    markerDelete(manifestPath(root, stage))

  /** Stage checkpoints hold no cached blocks (every stage frame is read back
    * from its files), so there is nothing to release; kept for callers that
    * release per root between units of work. */
  def releaseCaches(root: String): Unit = ()

  /** Tag all jobs of `f` (including AQE materialization jobs, which capture
    * the submitting thread's local properties) with a stage label — this is
    * what makes `tools.StageTimer` attribution readable. */
  private def described[A](spark: SparkSession, label: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /**
   * Resumable stage: if the stage's manifest exists, skip the compute
   * entirely (a re-run after a kill resumes here); otherwise write `compute`
   * straight to Parquet (ONE job, the row count observed on the write) and
   * stamp the manifest. Either way the stage comes back read from its files
   * with the manifest's schema, so downstream plans start at a file scan:
   * persisting the compute first cost a second job per stage under AQE (a
   * cache-building job, then the write over the cache scan), and every later
   * plan carried the whole upstream plan inside the cached relation.
   */
  def runStage(spark: SparkSession, root: String, stage: String,
      partitionBy: Seq[String] = Nil,
      partitionValue: Option[String] = None)(compute: => DataFrame): DataFrame = {
    if (!isComplete(root, stage)) {
      val t0 = System.nanoTime()
      // evaluated inside the description scope: eager work in the stage
      // closure (e.g. the CC iteration jobs) must carry the label too
      val rows = described(spark, s"graft:$stage") {
        write(compute, root, stage, partitionBy, partitionValue)
      }
      bufferLineage(root, stage, rows, (System.nanoTime() - t0) / 1e9, skipped = false)
    } else {
      bufferLineage(root, stage, -1L, 0.0, skipped = true)
    }
    read(spark, root, stage)
  }

  /**
   * Full-rewrite stage whose compute READS THE STAGE'S OWN PREVIOUS FILES
   * (the incremental fast path derives clusters/decisions from their
   * predecessors). `runStage`'s in-place Overwrite would delete that input
   * at job start, so the previous shape eagerly `localCheckpoint`ed the
   * source first — a full extra materialization pass of the widest tables
   * per epoch (measured: the decisions checkpoint alone was a whole-table
   * pass with its arrays columnar-encoded into the block manager). Instead:
   * write the successor to a sibling tmp dir — the live files stay readable
   * for the whole job — then swap (delete live, rename tmp in) and stamp
   * the manifest. Crash-safety is unchanged: callers invalidate the
   * manifest BEFORE computing, and a crash mid-write or mid-swap leaves the
   * manifest absent, which routes the next run onto the slow path that
   * re-derives these stages from their true upstream (`verified`).
   * Returns the stage re-read from the swapped-in files, like `runStage`.
   */
  def runStageReplace(spark: SparkSession, root: String, stage: String)(
      compute: => DataFrame): DataFrame = {
    if (!isComplete(root, stage)) {
      val t0 = System.nanoTime()
      val rows = described(spark, s"graft:$stage") {
        val tmp = s"$root/_replace_tmp_$stage"
        val df = compute
        val obs = Observation(s"graft-$stage-swap")
        df.observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        val n = obs.get("rows").asInstanceOf[Long]
        val live = new Path(s"$root/$stage")
        val fs = fsFor(live)
        fs.delete(live, true)
        if (!fs.rename(new Path(tmp), live))
          throw new java.io.IOException(s"stage swap failed: $tmp -> $live")
        writeManifest(root, stage, n, Nil, Map.empty, schemaJson(df))
        n
      }
      bufferLineage(root, stage, rows, (System.nanoTime() - t0) / 1e9, skipped = false)
    } else {
      bufferLineage(root, stage, -1L, 0.0, skipped = true)
    }
    read(spark, root, stage)
  }

  /** Per-partition resumable stage: compute and append only if `partition`
    * is not yet in the stage manifest. */
  def runStagePartition(spark: SparkSession, root: String, stage: String,
      partitionBy: Seq[String], partition: String)(compute: => DataFrame): DataFrame = {
    if (!completePartitions(root, stage).contains(partition)) {
      val t0 = System.nanoTime()
      val rows = described(spark, s"graft:$stage/$partition") {
        appendPartition(compute, root, stage, partitionBy, partition)
      }
      bufferLineage(root, s"$stage/$partition", rows, (System.nanoTime() - t0) / 1e9,
        skipped = false)
    } else {
      bufferLineage(root, s"$stage/$partition", -1L, 0.0, skipped = true)
    }
    read(spark, root, stage)
  }

  // ---- lineage / metrics tables (append-only) -----------------------------

  private val lineageBuf =
    mutable.Map.empty[String, mutable.ArrayBuffer[(String, Long, Double, Boolean)]]

  /** Buffer a lineage row; `flushLineage` writes the batch in one job. */
  def bufferLineage(root: String, stage: String, rows: Long, seconds: Double,
      skipped: Boolean): Unit = synchronized {
    lineageBuf.getOrElseUpdate(root, mutable.ArrayBuffer.empty)
      .append((stage, rows, seconds, skipped))
  }

  /** Write all buffered lineage rows for `root` as ONE append job. */
  def flushLineage(spark: SparkSession, root: String): Unit = {
    val rows = synchronized(lineageBuf.remove(root)).getOrElse(mutable.ArrayBuffer.empty)
    if (rows.nonEmpty) {
      import spark.implicits._
      rows.toSeq.toDF("stage", "rows", "seconds", "skipped")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$root/_lineage")
    }
  }

  /** Append-only metrics table: (stage, metric, value) rows. */
  def appendMetrics(spark: SparkSession, root: String,
      rows: Seq[(String, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("stage", "metric", "value")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$root/_metrics")
  }

  /** Per-partition metrics rows for a stage, read from its manifest — the
    * north rule's per-partition metrics evidence, with zero Spark jobs. */
  def partitionMetricRows(root: String, stage: String): Seq[(String, String, Double)] =
    partitionRows(root, stage).toSeq.sortBy(_._1).map { case (p, r) =>
      (stage, s"rows[batch=$p]", r.toDouble)
    }
}
