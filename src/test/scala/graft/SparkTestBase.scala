package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader

/** One shared local session across all suites (Spark sessions are
  * expensive; getOrCreate dedupes).
  */
trait SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
  /** Run `body` and count the Spark jobs it launched. A listener, not
    * `statusTracker`: the status store is fed asynchronously and
    * trims to `spark.ui.retainedJobs`, so its job list can miss a job
    * that just ran. The bus is drained before the listener is added
    * (so earlier jobs are not counted) and before it is read.
    */
  def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` and count the `chmod` processes the JVM started
    * meanwhile, from an in-process JFR recording of `jdk.ProcessStart`.
    * Only `chmod` counts: Spark's heartbeat and cleanup threads may
    * start other commands (`getconf`, `rm`) at any time.
    */
  def processesStartedBy[T](body: => T): (T, Int) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("process_start", ".jfr")
    try {
      rec.dump(file)
      val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(file)
        .stream().filter(_.getString("command").split(" ").head == "chmod")
        .count()
      (out, chmods.toInt)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  /** Run `body` and count the `NumberFormatException`s (subclasses
    * included, such as Spark's `SparkNumberFormatException`) the JVM
    * built meanwhile, on any thread, from an in-process JFR recording
    * of `jdk.JavaExceptionThrow`. A local session's executors are
    * threads of this JVM, so their casts count too.
    */
  def exceptionsThrownBy[T](body: => T): (T, Int) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.JavaExceptionThrow")
    rec.start()
    val out = try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("exception_throw", ".jfr")
    try {
      rec.dump(file)
      def isNfe(name: String) =
        scala.util.Try(Class.forName(name, false, getClass.getClassLoader))
          .toOption.exists(classOf[NumberFormatException].isAssignableFrom)
      val thrown = jdk.jfr.consumer.RecordingFile.readAllEvents(file)
        .stream().filter(e => isNfe(e.getClass("thrownClass").getName))
        .count()
      (out, thrown.toInt)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  /** Run `body` and collect every log line logged meanwhile, as
    * `LEVEL logger: message`. */
  def logged[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "spark-test-base", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    try (body, lines.toArray(Array.empty[String]).toSeq)
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender("spark-test-base")
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** Test scratch under the working directory's `target/`, so two
    * checkouts' suites never share corpora. */
  val scratchRoot: String =
    new java.io.File("target/test_scratch").getCanonicalPath

  def scratch(name: String): String = {
    val dir = s"$scratchRoot/$name"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val f = new java.io.File(dir)
    if (f.exists()) rm(f)
    f.mkdirs()
    dir
  }

  /** The `part-*.parquet` data files directly under `dir`, sorted by
    * name: what a baseline hands `spark.read.parquet` for a table whose
    * root name Spark's file index hides (`_csv_progress_`), which it
    * would otherwise log as `All paths were ignored`. */
  def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
      .map(n => s"$dir/$n").toSeq

  /** A parquet file's footer schema and key-value metadata. */
  def footer(p: Path): (MessageType, Map[String, String]) = {
    val f = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.NO_FILTER).getFileMetaData
    (f.getSchema, f.getKeyValueMetaData.asScala.toMap)
  }
}
