package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet files of `schema` written on the driver, with no Spark job,
  * through Spark's own parquet writer: the
  * `ParquetFileFormat.prepareWrite` → `OutputWriterFactory` path a
  * write task takes, so the footers and Spark's row metadata match a
  * task-written file. The session's write settings are read once, at
  * construction; [[write]] may run on several threads at once.
  */
final class DriverParquet(spark: SparkSession, schema: StructType) {
  private val job = Job.getInstance(spark.sessionState.newHadoopConf())
  private val factory =
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
  private val ctx = new TaskAttemptContextImpl(job.getConfiguration,
    new TaskAttemptID(new TaskID(
      new JobID(java.util.UUID.randomUUID().toString, 0), TaskType.MAP, 0), 0))

  /** The extension a write task gives its files, `.<codec>.parquet`. */
  val extension: String = factory.getFileExtension(ctx)

  /** Write `rows` to a new `file`, footer included. */
  def write(file: Path, rows: Iterator[InternalRow]): Unit = {
    val w = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(w.write) finally w.close()
  }
}
