package graft.catalog

import java.io.IOException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
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
  * The log's layout is declared once, as the Spark schema
  * `ProgressTracker.Schema`; each event is one parquet file written on
  * the driver through [[DriverParquet]], the writer the text index's
  * driver tier uses, so its footer is the one Spark's own one-row
  * write gives.
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
  import ProgressTracker.Schema

  val tableName = "_csv_progress_"
  private def path = db.tablePath(tableName)
  private val spark = db.spark
  private val toRow = CatalystTypeConverters.createToCatalystConverter(Schema)
  private val writer = new DriverParquet(spark, Schema)

  /** One-row event append, written on the driver through
    * [[DriverParquet]] — a progress update must not cost a Spark job
    * (the Spark write path schedules a full job per append; measured
    * ~200 ms each, several per upload once live progress flushes
    * mid-load). Bookkeeping stays off the data path.
    *
    * The row is written under a `.`-prefixed name, which listings and
    * Spark's file index skip, and renamed into place once its footer
    * is written: a reader polling mid-upload lists only whole files.
    */
  private def append(id: String, table: String, bytesTodo: Long,
      bytesDone: Long, rowsDone: Long, started: String,
      completed: Option[String], error: Option[String], seq: Long): Unit = {
    val row = toRow(Row(id, table, bytesTodo, bytesDone, rowsDone, started,
      completed.orNull, error.orNull, seq)).asInstanceOf[InternalRow]
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val name = s"part-${java.util.UUID.randomUUID().toString}.parquet"
    val (tmp, file) = (new Path(dir, s".$name"), new Path(dir, name))
    writer.write(tmp, Iterator(row))
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
        latest.values.map(_.row).toSeq.asJava, Schema))
      .getOrElse(windowPlan())

  private def windowPlan(): DataFrame = {
    val w = Window.partitionBy(col("id"))
    ParquetStats.read(spark, path, Schema)
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

  /** The event log's one declaration: [[ProgressTracker.current]]'s
    * schema, the window plan's read schema, the resident fold's columns
    * and every appended row. */
  val Schema: StructType = StructType.fromDDL("id STRING, table_name STRING, " +
    "bytes_todo BIGINT, bytes_done BIGINT, rows_done BIGINT, started STRING, " +
    "completed STRING, error STRING, seq BIGINT")
  private val IdIx = Schema.fieldIndex("id")
  private val TodoIx = Schema.fieldIndex("bytes_todo")
  private val StartedIx = Schema.fieldIndex("started")
  private val SeqIx = Schema.fieldIndex("seq")

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
        ParquetStats.readRows(conf, file, Schema.fieldNames.toSeq) { g =>
          val e = Schema.fields.map { f =>
            if (g.getFieldRepetitionCount(f.name) == 0) null
            else if (f.dataType == LongType) g.getLong(f.name, 0)
            else g.getString(f.name, 0)
          }
          val id = e(IdIx).asInstanceOf[String]
          state = state.updated(id,
            state.get(id).fold(Latest(e, e(StartedIx), e(TodoIx)))(_.plus(e)))
        }
      state
    }
  }
}
