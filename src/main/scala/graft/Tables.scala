package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loader: one parquet file per TPC-H-ish table under a
  * scale-factor directory (see TESTDATA.md).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.ParquetStats.read(spark, s"$sfDir/$name.parquet")

  /** `events` with an exact epoch-ms `ms` column, adaptive to how the
    * generator stored `ts`. Three physical encodings have shipped:
    * TIMESTAMP(NANOS) (readable only as raw bigint via `nanosAsLong`),
    * naive timestamp[us] (Spark reads TIMESTAMP_NTZ), and
    * UTC-adjusted timestamp (plain TIMESTAMP). All downstream time
    * math stays in bigint epoch-ms so the DuckDB compare (epoch_ms(ts)
    * treats naive as UTC) is deterministic under every encoding.
    * Schema changes here broke the whole events family silently in r6
    * — hence the dtype dispatch instead of a fixed cast.
    */
  def eventsWithMs(spark: SparkSession, sfDir: String): DataFrame = {
    // Legacy flag must be set BEFORE the read so a NANOS file doesn't
    // fail the scan outright; harmless for µs/NTZ files.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NTZ→TIMESTAMP casts interpret the wall clock in the session
    // zone; the oracle's epoch_ms(ts) fixes that zone as UTC.
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = apply(spark, sfDir, "events")
    val ms = df.schema("ts").dataType match {
      case LongType          => expr("ts div 1000000")
      case _: TimestampNTZType => expr("unix_millis(cast(ts as timestamp))")
      case _: TimestampType  => expr("unix_millis(ts)")
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported type $other — expected nanos-as-long, " +
          "TIMESTAMP_NTZ, or TIMESTAMP")
    }
    df.withColumn("ms", ms)
  }

  // Note on input layout: the driver's test tables are ONE parquet
  // file with ONE row group — an unsplittable single-task scan. A
  // BLANKET repartition-after-scan guard was measured (r5) and
  // REJECTED: at these data sizes the extra fixed-width exchange
  // costs more than the lost scan parallelism on every operator
  // tried (tfidf 0.6 s → 1.6 s), and at real scale a corpus arrives
  // in thousands of splittable files, where the guard is a no-op
  // anyway. Operators therefore read the layout as-is and rely on
  // AQE to size post-shuffle stages — EXCEPT the few whose per-row
  // arithmetic dominates the exchange (below).

  /** Round-robin widen a NARROW scan for operators whose per-row math
    * dwarfs one exchange of the rows (r15 OPT): the O(n²·d) cosine of
    * C6, the nTables·planes·d signature pass of C7, D12's r·d
    * projection — each ran ~1 s on ONE task at sf0.1/local[32]
    * because the single-row-group input gives the whole map stage one
    * split (job profile: 31 idle cores). No-op whenever the input
    * already provides ≥ half the cluster's parallelism — at real
    * scale a corpus arrives in many files and this never fires. This
    * deliberately does NOT revisit the r5 rejection: light-math text
    * operators keep the raw layout; only heavy-arithmetic vector
    * operators opt in, each with a measured win.
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, want / 2)) df
    else df.repartition(want)
  }
}
