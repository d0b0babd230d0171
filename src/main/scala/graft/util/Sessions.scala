package graft.util

import org.apache.spark.sql.SparkSession

/**
 * One place for the engine's Spark session tuning so every entry point
 * (RunDedup, Bench, Verify, ScalingBench, tests) runs the same profile:
 *
 *  - shuffle.partitions = cores: local mode has no reason for 200.
 *  - AQE ON for runtime skew-join splitting, but partition COALESCING OFF:
 *    measured on the band self-joins (3M exploded rows), the 64MB advisory
 *    size folds the CPU-bound join into ~1 partition and serializes it —
 *    27s vs 8s for the same join. Shuffle sizes here are small in bytes but
 *    large in CPU; parallelism matters more than shuffle-file count.
 *  - shuffled hash join preferred over sort-merge: the LSH band joins are
 *    narrow (two longs + an id) with near-unique keys; sorting dominates
 *    SMJ cost while a hash table per partition is cheap.
 */
object Sessions {
  def build(appName: String, cpus: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      // partitions default to cores (local mode has no reason for 200), but
      // a real deployment sizes them to the DATA, not the core count: at
      // fixed partitions=cores, per-task aggregation state grows linearly
      // with the corpus and eventually trips the hash-agg sort fallback
      // (measured: the 4M banded size-agg burned 17x the CPU of its 1M twin
      // at 4x the bytes — BENCH/BASELINE.md round-4 4M section). The env
      // override is the sandbox stand-in for that sizing decision.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // candidate-pair tables and rep-id lists are tiny next to the feature
      // table: let them broadcast so hydration joins never shuffle the wide
      // side (AQE still re-plans if a "small" side turns out big)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // checkpointed stages are read back for row counts; push count()
      // down to parquet footers instead of scanning data
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // stage `batch` partition values are opaque strings ("0", "idx0", …);
      // inference would type some dirs int and some string per stage
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every broadcast hash relation holds >= 1 Tungsten page (default 16 MB
      // on a 3 GB, 4-core driver) until the ContextCleaner drops it after a
      // GC, so retained heap swung 130-330 MB (78 MB live) with cleaner timing
      .config("spark.buffer.pageSize", "1m")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
