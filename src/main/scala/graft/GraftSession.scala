package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * [[configure]] applies the settings every timed and checked run
  * uses (Bench, Verify, the specs, the flow benchmark): AQE with
  * byte-sized coalescing, the broadcast threshold, no automatic
  * bucketed-scan pruning, UTC, nanosecond timestamps as longs, and
  * [[catalog.NoForkLocalFileSystem]] (and, for `FileContext` users
  * such as streaming checkpoints, [[catalog.NoForkLocalFs]]) for
  * `file:` paths, so a local file or directory the engine creates
  * sets its mode with a syscall instead of forking `chmod`. Hadoop
  * caches a filesystem per scheme and user, not per configuration: a
  * `file:` filesystem created in the JVM before the session keeps the
  * stock class.
  * [[local]] adds a `local[cores]` master with one shuffle partition
  * per core, `cores` defaulting to the JVM's available processors.
  * Each setting is a constant; a caller that wants another value sets
  * `.config(key, value)` on the builder after `configure`, since the
  * last setting of a key wins.
  */
object GraftSession {

  /** Apply graft defaults to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Size post-shuffle partitions by BYTES, not by cluster width:
    // parallelismFirst=true re-expands every tiny shuffle to
    // defaultParallelism tasks, so a 32-core local session pays 32
    // task dispatches per sub-MB stage (measured ~25% of sub-second
    // query wall time at sf0.1). The advisory size is the tension:
    // bytes misprice CPU-heavy stages (a small-bytes shuffle into an
    // expensive verify join wants width), so it stays modest.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // preferSortMergeJoin=false (r14) lets the planner pick shuffled-
    // hash wherever one side hashes locally; surgical hints carried
    // the measured q3 win and no full-board sweep at 1x and 10x has
    // shown an aggregate win for the global flip.
    .config("spark.sql.join.preferSortMergeJoin", "true")
    // Every bucketed read in this engine is DELIBERATE — the layout
    // exists for bucket PRUNING (text-index term probes) or exchange
    // elision (q3/q5 twins, _len joins). Spark's
    // DisableUnnecessaryBucketedScan only scores the distribution
    // benefit: a pruned probe whose downstream agg doesn't need the
    // bucket hash (searchAll's doc_id regroup) gets its bucketed scan
    // — and with it SelectedBucketsCount — silently discarded,
    // turning an O(terms' buckets) serve into a full postings scan.
    // Keep the planner's hands off; tables that don't benefit from
    // their bucketing are simply not written bucketed here.
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.compression.codec", "snappy")
    // TIMESTAMP(NANOS) parquet (the events table) reads as raw
    // nanosecond bigints instead of erroring — session-level so no
    // operator has to mutate conf as a side effect.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl",
      classOf[catalog.NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[catalog.NoForkLocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
