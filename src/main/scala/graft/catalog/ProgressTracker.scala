package graft.catalog

import java.io.IOException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ParquetStats

/** Upload progress bookkeeping (SURVEY.md §2.A6/A7).
  *
  * The reference keeps a `_csv_progress_` row per upload task and
  * UPDATEs it in place (datasette_upload_csvs/__init__.py:139-162,
  * 200-207,217-221: id, table_name, bytes_todo, bytes_done,
  * rows_done, started, completed, error). Parquet is append-only, so
  * graft re-expresses the mutable row as an event log: each state
  * change appends a row with a monotonically increasing `seq`, and
  * [[current]] resolves the latest state per task — the same read
  * surface, and an audit trail for free. At scale the log is tiny
  * (O(state changes), not O(rows loaded)).
  *
  * [[current]] has two tiers, like the served artifacts. While the
  * log's on-disk bytes fit [[ResidentArtifact.budget]] (the same
  * budget, shared with the text index and the HNSW graphs), a
  * driver-resident copy of the latest state per task answers: the
  * first read folds every file, later reads fold only the files
  * appended since, and the answer is a local DataFrame, so polling
  * it costs no Spark job. Above the budget, or when the log cannot be
  * listed or read on the driver, a window plan over the log answers.
  * Both tiers resolve the same field-wise merge.
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
    *
    * The row is written under a `.`-prefixed name, which listings and
    * Spark's file index skip, and renamed into place once its footer
    * is written: a reader polling mid-upload lists only whole files.
    */
  private def append(id: String, table: String, bytesTodo: Long,
      bytesDone: Long, rowsDone: Long, started: String,
      completed: Option[String], error: Option[String], seq: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val name = s"part-${java.util.UUID.randomUUID().toString}.parquet"
    val (tmp, file) = (new Path(dir, s".$name"), new Path(dir, name))
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
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
    try Publish.move(fs, tmp, file)
    catch { case e: IOException => fs.delete(tmp, false); throw e }
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
    * latest event. Served from the driver-resident copy below the
    * budget, else by [[windowPlan]] (see the class doc).
    */
  def current(): DataFrame = current(ResidentArtifact.budget)

  /** [[current]] with the resident tier's admission budget given — 0
    * forces the window plan. */
  private[graft] def current(residentBudget: Long): DataFrame =
    ResidentArtifact.get(spark, "progress", Seq(path), residentBudget)(
        ProgressTracker.Loader(spark))
      .map(latest => spark.createDataFrame(
        latest.values.map(_.row).toSeq.asJava, sparkSchema))
      .getOrElse(windowPlan())

  private def windowPlan(): DataFrame = {
    val w = Window.partitionBy(col("id"))
    ParquetStats.read(spark, path, sparkSchema)
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

private object ProgressTracker {

  /** The event log's columns, in [[ProgressTracker.sparkSchema]]'s
    * order, and which of them are int64. */
  private val Columns = Seq("id", "table_name", "bytes_todo", "bytes_done",
    "rows_done", "started", "completed", "error", "seq")
  private val Longs = Set("bytes_todo", "bytes_done", "rows_done", "seq")
  private val IdIx = Columns.indexOf("id")
  private val TodoIx = Columns.indexOf("bytes_todo")
  private val StartedIx = Columns.indexOf("started")
  private val SeqIx = Columns.indexOf("seq")

  /** `a > b` as the window plan orders: nulls below every value,
    * strings by UTF-8 bytes like Spark's `max`. */
  private def after(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _)              => false
    case (_, null)              => true
    case (x: Long, y: Long)     => x > y
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) > 0
    case _                      => false
  }

  /** One task's resolved state: its max-`seq` event with `started` and
    * `bytes_todo` replaced by their maxima over all its events — the
    * window plan's merge. A `seq` tie keeps the event folded first;
    * the window plan breaks it arbitrarily too. */
  final case class Latest(event: Array[Any], started: Any, todo: Any) {
    def plus(e: Array[Any]): Latest = Latest(
      if (after(e(SeqIx), event(SeqIx))) e else event,
      if (after(e(StartedIx), started)) e(StartedIx) else started,
      if (after(e(TodoIx), todo)) e(TodoIx) else todo)

    def row: Row = Row.fromSeq(event.toSeq
      .updated(StartedIx, started).updated(TodoIx, todo))
  }

  final case class Loader(spark: SparkSession)
      extends ResidentArtifact.Loader[Map[String, Latest]] {
    def load(files: Seq[Seq[Path]]): Map[String, Latest] =
      fold(Map.empty, files)

    def fold(prior: Map[String, Latest],
        added: Seq[Seq[Path]]): Map[String, Latest] = {
      val conf = spark.sessionState.newHadoopConf()
      var state = prior
      for (file <- added.flatten)
        ParquetStats.readRows(conf, file, Columns) { g =>
          val e = Columns.map { c =>
            if (g.getFieldRepetitionCount(c) == 0) null
            else if (Longs(c)) g.getLong(c, 0)
            else g.getString(c, 0)
          }.toArray[Any]
          val id = e(IdIx).asInstanceOf[String]
          state = state.updated(id,
            state.get(id).fold(Latest(e, e(StartedIx), e(TodoIx)))(_.plus(e)))
        }
      state
    }
  }
}
