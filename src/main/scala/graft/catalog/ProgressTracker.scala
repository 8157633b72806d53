package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upload progress bookkeeping (SURVEY.md §2.A6/A7).
  *
  * The reference keeps a `_csv_progress_` row per upload task and
  * UPDATEs it in place (datasette_upload_csvs/__init__.py:139-162,
  * 200-207,217-221: id, table_name, bytes_todo, bytes_done,
  * rows_done, started, completed, error). Parquet is append-only, so
  * graft re-expresses the mutable row as an event log: each state
  * change appends a row with a monotonically increasing `seq`, and
  * `current()` resolves the latest state per task with a window —
  * the same read surface, and an audit trail for free. At scale the
  * log is tiny (O(state changes), not O(rows loaded)).
  */
class ProgressTracker(db: GraftDatabase) {

  val tableName = "_csv_progress_"
  private def path = db.tablePath(tableName)
  private val spark = db.spark

  /** Parquet schema of the event log — identical shape to what a
    * Spark 1-row append would produce; readable by spark.read.parquet
    * and the DuckDB oracle alike. The one declaration of the layout:
    * [[sparkSchema]] is derived from it.
    */
  private val progressSchema = MessageTypeParser.parseMessageType(
    """message graft_progress {
      |  optional binary id (UTF8);
      |  optional binary table_name (UTF8);
      |  optional int64 bytes_todo;
      |  optional int64 bytes_done;
      |  optional int64 rows_done;
      |  optional binary started (UTF8);
      |  optional binary completed (UTF8);
      |  optional binary error (UTF8);
      |  optional int64 seq;
      |}""".stripMargin)

  /** The event log's schema as `spark.read.parquet` would infer it —
    * converted from [[progressSchema]] by Spark's own converter, so
    * [[current]] reads without a footer-inference Spark job.
    */
  private val sparkSchema =
    new ParquetToSparkSchemaConverter().convert(progressSchema)

  /** One-row metadata append, written DIRECTLY with a ParquetWriter —
    * a progress update must not cost a Spark job (the Spark write
    * path schedules a full job per append; measured ~200 ms each,
    * several per upload once live progress flushes mid-load). Direct
    * file write is ~ms, and bookkeeping stays off the data path.
    */
  private def append(id: String, table: String, bytesTodo: Long,
      bytesDone: Long, rowsDone: Long, started: String,
      completed: Option[String], error: Option[String], seq: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    dir.getFileSystem(conf).mkdirs(dir)
    val file = new Path(dir,
      s"part-${java.util.UUID.randomUUID().toString}.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf) // else the builder parses a default Configuration per row
      .withType(progressSchema)
      .build()
    try {
      val g = new SimpleGroupFactory(progressSchema).newGroup()
      g.append("id", id)
      g.append("table_name", table)
      g.append("bytes_todo", bytesTodo)
      g.append("bytes_done", bytesDone)
      g.append("rows_done", rowsDone)
      g.append("started", started)
      completed.foreach(g.append("completed", _))
      error.foreach(g.append("error", _))
      g.append("seq", seq)
      writer.write(g)
    } finally writer.close()
  }

  def start(id: String, table: String, bytesTodo: Long,
      started: String = now()): Unit =
    append(id, table, bytesTodo, 0L, 0L, started, None, None, 0L)

  def update(id: String, table: String, bytesTodo: Long, bytesDone: Long,
      rowsDone: Long, seq: Long): Unit =
    append(id, table, bytesTodo, bytesDone, rowsDone, "", None, None, seq)

  /** Terminal success: bytes_done := bytes_todo, like the reference's
    * mark_complete (__init__.py:200-207).
    */
  def complete(id: String, table: String, bytesTodo: Long, rowsDone: Long,
      completedAt: String = now()): Unit =
    append(id, table, bytesTodo, bytesTodo, rowsDone, "",
      Some(completedAt), None, Long.MaxValue)

  /** Terminal failure: error captured, upload never throws
    * (__init__.py:217-221).
    */
  def fail(id: String, table: String, error: String): Unit =
    append(id, table, 0L, 0L, 0L, "", None, Some(error), Long.MaxValue)

  /** Latest state per task id — a FIELD-WISE merge, not just the
    * max-seq row (r15 review): `update()` events carry started = ""
    * and `fail()` carries bytes_todo = 0, so reading the latest row
    * verbatim loses the original start time after the first mid-load
    * flush and the denominator after a failure — the reference's
    * in-place UPDATE never clears either (__init__.py:200-221).
    * `started` resolves as the partition max (any ISO timestamp
    * out-sorts the empty string), `bytes_todo` likewise (the real
    * total dominates fail()'s 0); everything else reads off the
    * latest event.
    */
  def current(): DataFrame = {
    val w = Window.partitionBy(col("id"))
    graft.sources.ParquetStats.read(spark, path, sparkSchema)
      .withColumn("__rn", row_number().over(w.orderBy(col("seq").desc)))
      .withColumn("__started", max(col("started")).over(w))
      .withColumn("__todo", max(col("bytes_todo")).over(w))
      .filter(col("__rn") === 1)
      .withColumn("started", col("__started"))
      .withColumn("bytes_todo", col("__todo"))
      .drop("__rn", "__started", "__todo")
  }

  def exists: Boolean = db.tableExists(tableName)

  private def now(): String = java.time.Instant.now().toString
}
