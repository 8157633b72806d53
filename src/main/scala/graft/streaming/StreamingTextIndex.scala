package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.GraftDatabase
import graft.operators.TextIndex

/** G10: incremental maintenance of the E11–E13 text index AT INGEST
  * (SURVEY.md §2.G) — new documents become searchable as their
  * micro-batch commits, without ever rebuilding the corpus-scale
  * postings. The batch twin's build-once/serve-many lifecycle plus
  * the G2 exactly-once publish discipline:
  *
  * - each micro-batch's postings/lengths are staged as a BUCKETED
  *   write (same term/doc_id bucketing and bucket count as the base
  *   index) and renamed into the artifact under a batchId-unique
  *   file prefix — a foreachBatch replay deletes its earlier
  *   attempt's files first, so retries converge to exactly one copy
  *   (the bucket id rides in the Spark-native `_NNNNN` filename
  *   suffix, which the prefix rename preserves, so the bucketed
  *   scan's exchange elision and bucket pruning keep working over
  *   base + appended files alike);
  * - corpus stats are BATCH-KEYED rows (one per micro-batch, summed
  *   at serve time) — no read-modify-write for a replay to
  *   double-apply;
  * - appended documents must be NEW doc_ids: postings merge by
  *   (term, doc_id) at build time only, so re-ingesting an existing
  *   document is a rebuild's job (`buildIndex` resets all three
  *   artifacts), exactly like the reference's per-table replace.
  *
  * Streaming state is ZERO — every batch is a stateless map+agg over
  * its own documents; nothing watermark-bounded accumulates.
  */
object StreamingTextIndex {

  /** Start-ready writer maintaining `table` in `db` from a streaming
    * (doc_id, text) frame. Caller sets checkpoint/trigger and
    * `.start()`s. Each micro-batch is one [[appendBatch]], so a batch
    * below its size gate publishes from the driver (one Spark job)
    * and a larger one, or one whose plan reports no size, through
    * Spark; both write the same files.
    */
  def maintainIndex(db: GraftDatabase, table: String, docStream: DataFrame,
      nBuckets: Int): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(db, table, batch, nBuckets, batchId)
    }

  /** Publish one micro-batch of new documents into the index,
    * idempotently under `batchId`. Also the batch-mode incremental
    * append (a backfill appending a day's partition is the same
    * operation with a caller-chosen batch id).
    *
    * Two tiers write the same four artifacts:
    *
    * DRIVER, when the batch's plan-estimated bytes
    * (`optimizedPlan.stats.sizeInBytes`, no job) times
    * [[DriverHeapPerPlanByte]] (128: the driver heap per plan byte,
    * measured at 48–102) fit [[graft.catalog.ResidentArtifact.budget]]
    * and doc_id is an integral or string column. One job collects the
    * tokenized batch with Spark's own `dl`, so tokenizing and NULL
    * text stay Spark's; the postings, `_len`, `_df` and `_corpus`
    * rows are built in plain Scala and written through Spark's parquet
    * writer on up to one driver thread per core, one file per non-empty
    * bucket, rows sorted by the bucket column, the bucket id from the
    * hash bucket pruning uses. Each file holds exactly the rows, schema and Spark row
    * metadata of the file the Spark tier writes for that bucket
    * (spec-pinned), so serving cannot tell the tiers apart. A 25-doc
    * append takes one job instead of twelve.
    *
    * SPARK, otherwise: the artifacts are Spark writes over one
    * persisted tokenize, twelve jobs for a small batch.
    *
    * Both stage into `_staging_<table>/<batchId>` and publish through
    * [[IngestPublish.moveUnderPrefix]], so a replay converges.
    */
  def appendBatch(db: GraftDatabase, table: String, docs: DataFrame,
      nBuckets: Int, batchId: Long): Unit =
    appendBatch(db, table, docs, nBuckets, batchId,
      graft.catalog.ResidentArtifact.budget)

  /** [[appendBatch]] with the driver tier's heap budget given — 0
    * forces the Spark tier. */
  private[graft] def appendBatch(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long,
      driverBudget: Long): Unit = {
    require(batchId >= 0, s"negative batchId $batchId is reserved for the base build")
    if (fitsDriver(docs, driverBudget))
      appendOnDriver(db, table, docs, nBuckets, batchId)
    else appendWithSpark(db, table, docs, nBuckets, batchId)
  }

  /** Driver heap per byte of the batch's plan-estimated size while
    * the driver tier builds its artifacts: the collected rows, the
    * postings groups and the rows to write. Measured with
    * `SizeEstimator` on parquet batches: 48–53 for the serve_mixed
    * 25-document append files, 73–102 for sf0.001–sf0.1 `documents`
    * slices of 50–5000 rows (larger files compress better); rounded
    * up. At a 3 GB heap the gate admits parquet batches of up to
    * ~375 KB, about 3k documents of the serve_mixed shape. */
  private val DriverHeapPerPlanByte = 128

  private def fitsDriver(docs: DataFrame, budget: Long): Boolean =
    (docs.schema("doc_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false // grouping equality differs from the value's
    }) && docs.queryExecution.optimizedPlan.stats.sizeInBytes *
      DriverHeapPerPlanByte < budget

  private def appendWithSpark(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long): Unit = {
    // Four artifact actions share one tokenize subtree — persist it
    // for the span of the publishes (r13 VERDICT #1; micro-batches
    // are small, so this is a batch-sized cache, released before
    // return). Without it every publish re-tokenizes the batch.
    val tok = TextIndex.tokenized(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (postings, lens, dfs, stats) = artifacts(tok, batchId)
      Seq((postings, table, "term"), (lens, s"${table}_len", "doc_id"),
        (dfs, s"${table}_df", "term")).foreach { case (df, t, bucketCol) =>
          sparkBucketed(df, t, restage(db, t, batchId), bucketCol, nBuckets,
            batchId)
          commit(db, t, batchId)
        }
      stats.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(restage(db, s"${table}_corpus", batchId).toString)
      commit(db, s"${table}_corpus", batchId)
    } finally tok.unpersist(blocking = false)
  }

  /** The four artifacts of a batch over a tokenized frame: postings,
    * doc lengths, the per-term df PARTIAL (appended doc_ids are new by
    * the contract above, so serve-time SUM over batch partials is the
    * exact corpus df — the `_df` artifact searchRanked plans against
    * stays current without a read-modify-write) and the 1-row stats. */
  private def artifacts(tok: DataFrame, batchId: Long) = {
    val (postings, lens, stats) = TextIndex.batchArtifacts(tok, batchId)
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .select(lit(batchId).as("batch_id"), col("term"), col("df"))
    (postings, lens, dfs, stats)
  }

  private def appendOnDriver(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long): Unit = {
    val tok = TextIndex.tokenized(docs)
    // the frames are analyzed for their schemas only, never run
    val (postings, lens, dfs, stats) = artifacts(tok, batchId)
    val toCatalyst = CatalystTypeConverters.convertToCatalyst _
    // (term, doc_id) → positions, in first-seen order: the groups of
    // `groupBy(term, doc_id)`, a NULL doc_id a key like any other
    val groups = mutable.LinkedHashMap[(String, Any), mutable.ArrayBuilder.ofInt]()
    val lenRows = mutable.ArrayBuffer[InternalRow]()
    var totalLen: java.lang.Long = null
    val collected = tok.select(col("doc_id"), col("__t"),
      size(col("__t")).cast("bigint").as("dl")).collect()
    collected.foreach { r =>
      val doc = toCatalyst(r.get(0))
      val dl = r.get(2).asInstanceOf[java.lang.Long]
      lenRows += InternalRow(doc, dl)
      if (dl != null) totalLen = (if (totalLen == null) 0L else totalLen.longValue) + dl
      if (!r.isNullAt(1)) r.getSeq[String](1).iterator.zipWithIndex.foreach {
        case (term, pos) =>
          groups.getOrElseUpdate((term, doc), new mutable.ArrayBuilder.ofInt) += pos
      }
    }
    val dfOf = mutable.LinkedHashMap[String, Long]()
    val postingRows = groups.iterator.map { case ((term, doc), b) =>
      val positions = b.result()
      java.util.Arrays.sort(positions)
      dfOf(term) = dfOf.getOrElse(term, 0L) + 1L
      InternalRow(UTF8String.fromString(term), doc,
        new GenericArrayData(positions), positions.length.toLong)
    }.toArray
    val dfRows = dfOf.iterator.map { case (term, df) =>
      InternalRow(batchId, UTF8String.fromString(term), df) }.toArray
    val staged = Seq(
      (table, postings.schema, Some(("term", nBuckets)), postingRows),
      (s"${table}_len", lens.schema, Some(("doc_id", nBuckets)), lenRows.toArray),
      (s"${table}_df", dfs.schema, Some(("term", nBuckets)), dfRows),
      (s"${table}_corpus", stats.schema, None,
        Array(InternalRow(batchId, collected.length.toLong, totalLen))))
    // each file create forks `chmod` on a local filesystem (twice, with
    // its checksum file), so all files are written in parallel, as a
    // Spark write's tasks would write them
    onThreads(staged.flatMap { case (t, schema, bucketing, rows) =>
      driverFiles(db.spark, restage(db, t, batchId), schema, bucketing, rows)
    })
    staged.foreach { case (t, _, _, _) => commit(db, t, batchId) }
  }

  /** The writes of `rows` of `schema` as parquet files into `dir`,
    * one task per file, through Spark's own parquet writer (the
    * `ParquetFileFormat.prepareWrite` → `OutputWriterFactory` path a
    * write task takes), so the footers and Spark's row metadata match
    * a task-written file. `bucketing` = (column, bucket count) writes
    * one file per non-empty bucket, named with the bucket id (the
    * hash a bucketed write and bucket pruning use) as a bucketed write
    * names it, rows sorted by the column; None writes one file. */
  private def driverFiles(spark: SparkSession, dir: Path, schema: StructType,
      bucketing: Option[(String, Int)],
      rows: Array[InternalRow]): Seq[() => Unit] = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val jobId = java.util.UUID.randomUUID().toString
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(jobId, 0), TaskType.MAP, 0), 0))
    val ext = factory.getFileExtension(ctx)
    dir.getFileSystem(job.getConfiguration).mkdirs(dir)
    def writeFile(name: String, part: => Iterable[InternalRow]) = () => {
      val w = factory.newInstance(new Path(dir, name).toString, schema, ctx)
      try part.foreach(w.write) finally w.close()
    }
    bucketing match {
      case None => Seq(writeFile(s"part-00000-$jobId-c000$ext", rows))
      case Some((column, n)) =>
        val i = schema.fieldIndex(column)
        val t = schema(i).dataType
        val value = BoundReference(i, t, nullable = true)
        // the expression BucketingUtils.getBucketIdFromValue evaluates
        // (the bucket id of a write and of bucket pruning), compiled
        // once: that function generates its projection on every call
        val bucketOf = UnsafeProjection.create(
          Seq(HashPartitioning(Seq(value), n).partitionIdExpression))
        val order = new InterpretedOrdering(Seq(SortOrder(value, Ascending)))
        rows.groupBy(r => bucketOf(r).getInt(0)).toSeq.map { case (b, part) =>
          writeFile(f"part-$b%05d-$jobId${BucketingUtils.bucketIdToString(b)}" +
            s".c000$ext", part.sorted(order))
        }
    }
  }

  /** Run `tasks` on up to one thread per driver core and wait for all
    * of them; then rethrow the first failure. */
  private def onThreads(tasks: Seq[() => Unit]): Unit = if (tasks.nonEmpty) {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, Runtime.getRuntime.availableProcessors))
    val outcomes = try tasks.map(t => pool.submit[Unit](() => t()))
      .map(f => scala.util.Try(f.get()))
    finally pool.shutdown()
    outcomes.collectFirst {
      case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
        throw e.getCause
      case scala.util.Failure(e) => throw e
    }
  }

  /** E23b streaming twin: maintain a persisted token-cardinality
    * sketch table from a streaming (source, text) document frame —
    * each micro-batch publishes its per-source HLL partials
    * exactly-once under its batch id
    * ([[graft.operators.TextQueries.appendTokenSketches]]), and the
    * corpus card serves from the sketch table at any moment
    * (`tokenCardinalityFromSketches`) without touching document
    * text. Caller sets checkpoint/trigger and `.start()`s.
    */
  def maintainTokenSketches(db: GraftDatabase, name: String,
      docStream: DataFrame): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.TextQueries.appendTokenSketches(
          db, name, batch, batchId)
    }

  private def staging(db: GraftDatabase, table: String, batchId: Long): Path =
    new Path(db.tablePath(s"_staging_$table"), batchId.toString)

  /** The empty staging dir of `table`'s files for `batchId`; any files
    * of an earlier attempt of the same batch are deleted. */
  private def restage(db: GraftDatabase, table: String, batchId: Long): Path = {
    val stage = staging(db, table, batchId)
    stage.getFileSystem(db.spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
    stage
  }

  /** Rename the staged files of `table` into the artifact dir under the
    * batch prefix — clearing any files from an earlier attempt of the
    * same batch. The catalog's relation cache holds the OLD file
    * listing, so the publish ends with a refresh (a no-op for a table
    * with no bucketed catalog entry) — without it a served query
    * planned after the append would silently miss the new postings.
    */
  private def commit(db: GraftDatabase, table: String, batchId: Long): Unit = {
    val stage = staging(db, table, batchId)
    val fs = stage.getFileSystem(db.spark.sparkContext.hadoopConfiguration)
    // the ONE checked-rename publish core, plus this path's
    // staging-parent cleanup
    IngestPublish.moveUnderPrefix(fs, stage, new Path(db.tablePath(table)),
      batchId)
    fs.delete(stage.getParent, true)
    db.refreshBucketed(table)
  }

  /** Write `df` into `stage` as a bucketed Spark write, one file per
    * non-empty bucket. */
  private def sparkBucketed(df: DataFrame, table: String, stage: Path,
      bucketCol: String, nBuckets: Int, batchId: Long): Unit = {
    val spark = df.sparkSession
    val stageIdent = s"${table.replace('.', '_')}__stage_$batchId"
    spark.sql(s"DROP TABLE IF EXISTS $stageIdent")
    df.repartition(nBuckets, df(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", stage.toString)
      .format("parquet")
      .saveAsTable(stageIdent)
    spark.sql(s"DROP TABLE IF EXISTS $stageIdent") // files stay; catalog entry goes
  }
}
