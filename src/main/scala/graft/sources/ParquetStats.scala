package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{CodecFactory, Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.language.existentials // parquet's Statistics[_ <: Comparable[_]]
import scala.util.control.NonFatal

/** Driver-side parquet FOOTER statistics — actual (pre-compression)
  * column bytes and exact INT64 min/max with NO Spark job and no
  * data-page reads.
  *
  * Why it exists: route decisions gated on Catalyst's
  * `stats.sizeInBytes` see COMPRESSED file bytes, and a duplication-
  * heavy corpus compresses 10-50× — the r10/r11 ADVICE blind spot
  * that let a "2 GB" corpus carry tens of GB of text into a
  * small-regime plan. Parquet footers record each column chunk's
  * `total_uncompressed_size` and exact min/max statistics; folding
  * them over the table's files costs milliseconds of driver I/O per
  * thousand files and closes the gap without adding a scan job to
  * the common path (the whole point of the small-regime tails and
  * the r12 shard-bounds path is fewer jobs).
  *
  * Caveat (documented, acceptable): `total_uncompressed_size` is
  * post-ENCODING — dictionary-encoded exact repeats still look
  * small. Exact duplicates are removed by the cheap exact-dedup
  * stage before any candidate join, and NEAR-identical documents
  * (the actual blowup source) are distinct strings that dictionary
  * encoding cannot collapse, so the number this returns tracks the
  * bytes the candidate stages will really process.
  */
object ParquetStats {

  /** Top-level name:len:mtime listing signature of `dir`: any
    * rewrite of a flat table layout changes it. None when the path is
    * missing or unreadable (callers must treat None as "no memo, take
    * the uncached route"). Top-level only: every table layout it
    * guards (single file, or a flat directory of part files) keeps
    * its data files as direct children. Its consumers are
    * [[graft.catalog.ListingMemo]] (the served LM and Moore-Lewis
    * broadcast models, the shared shuffle rank, and this object's
    * footer statistics) and [[graft.catalog.ServedArtifact]]'s
    * sidecars; [[graft.catalog.ResidentArtifact]] compares the same
    * [[listing]] per file.
    *
    * Deliberate staleness caveat (ADVICE r12): a file rewritten
    * in-place to the IDENTICAL byte length within one mtime tick
    * yields the same signature, so consumers would serve the
    * pre-rewrite value. This is the listing-only contract's price
    * and it is kept on purpose: a content-derived component would put
    * a read of every file on every memo lookup — the exact per-call
    * cost the memos exist to remove — to close a window that real
    * table commits (new part files, different sizes, atomic renames)
    * never hit.
    * Writers that rewrite in place same-length within a tick (test
    * scratch dirs at worst) must touch the file or write a fresh
    * name to invalidate.
    */
  def listingSig(spark: SparkSession, dir: String): Option[String] =
    listing(spark.sessionState.newHadoopConf(), dir).map(_
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|"))

  /** The top-level entries [[listingSig]] signs: `dir`'s children
    * minus `_`/`.` names. None when the path is missing or
    * unreadable. */
  private[graft] def listing(conf: Configuration,
      dir: String): Option[Seq[FileStatus]] =
    try {
      val p = new Path(dir)
      Some(p.getFileSystem(conf).listStatus(p).toSeq.filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      })
    } catch { case NonFatal(_) => None }

  /** Parquet read of `path` (a file, or a table directory with or
    * without partition subdirectories) whose construction launches no
    * Spark job. A schema-less `spark.read.parquet` runs a footer-
    * inference job; without schema merging that job reads ONE footer,
    * of the first data file by full path (`ParquetUtils.splitFiles`'
    * order). This reads that footer on the driver and converts it with
    * Spark's own `readSchemaFromFooter`, under a converter built from
    * the session's conf at call time, so `nanosAsLong` and the other
    * reader flags apply exactly as in the job. Partition columns are
    * still discovered from the directory names. Falls back to the
    * plain read when schema merging is on, there is no data file, or
    * the footer is unreadable, so every error stays Spark's own.
    * Spark would prefer a `_metadata` summary file; graft writes none.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => read(spark, path, schema)
      case None         => spark.read.parquet(path)
    }

  /** `spark.read.schema(schema).parquet(path)`, except that a directory
    * whose name Spark's file index hides (`_csv_progress_`) is indexed
    * directly: the reader logs `All paths were ignored` for such a root
    * on every read, then reads it anyway. graft's underscore tables
    * are flat, so their partition schema is empty.
    */
  private[graft] def read(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val root = new Path(path)
    if (!hiddenByFileIndex(root.getName) ||
        !root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .isDirectory(root))
      spark.read.schema(schema).parquet(path)
    else {
      val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema))
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, schema, None, new ParquetFileFormat,
        Map.empty)(spark))
    }
  }

  /** Every row of one parquet `file`, projected to the top-level
    * `columns`, read on the driver with parquet-hadoop's example
    * `Group` reader: no Spark job, no session. For the small served
    * artifacts a driver keeps resident
    * ([[graft.catalog.ResidentArtifact]]); anything corpus-sized
    * belongs in a Spark plan. A missing column or an unreadable file
    * throws.
    */
  private[graft] def readRows(conf: Configuration, file: Path,
      columns: Seq[String])(each: Group => Unit): Unit = {
    // read options built from `conf` with a codec factory of its own:
    // the default options and ParquetReader's builder each parse a new
    // Configuration (Hadoop's default XML) on every open
    val codecs = new CodecFactory(conf, 0)
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
        HadoopReadOptions.builder(conf, file).withCodecFactory(codecs).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val projected = new MessageType(schema.getName,
          columns.map(c => schema.getType(schema.getFieldIndex(c))).asJava)
        reader.setRequestedSchema(projected)
        val io = new ColumnIOFactory().getColumnIO(projected, schema)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records =
            io.getRecordReader(pages, new GroupRecordConverter(projected))
          var i = 0L
          while (i < pages.getRowCount) { each(records.read()); i += 1 }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    } finally codecs.release()
  }

  /** The Spark schema [[read]] would give `path`, from one footer;
    * None where [[read]] falls back to inference. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      firstDataFile(fs, fs.getFileStatus(root)).map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(sqlConf))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The first leaf under `st` by full path, skipping the names Spark's
    * file index hides. Depth-first over sorted listings, a directory
    * sorting as `name/`, visits leaves in full-path order without a
    * recursive listing of the whole table.
    */
  private def firstDataFile(fs: FileSystem,
      st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath)
      .filterNot(c => hiddenByFileIndex(c.getPath.getName))
      .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
      .iterator.flatMap(firstDataFile(fs, _)).nextOption()

  /** The names Spark's file index hides. */
  private def hiddenByFileIndex(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")

  /** The footer of one data file, row-group metadata included, read
    * without opening the file for its data. */
  private def footerOf(st: FileStatus, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The row count one data file's footer records. */
  private[graft] def footerRowCount(st: FileStatus, conf: Configuration): Long =
    footerOf(st, conf).getBlocks.asScala.map(_.getRowCount).sum

  /** The one footer walker: fold `f` over every row group of every
    * parquet file under `dir` (recursive listing, `_`/`.` entries
    * skipped). `f` returns None to abort — the whole fold becomes
    * None (callers fall back to their scan-job path). None also on
    * unreadable listings/footers or past `maxFiles`.
    */
  private def foldFooters[A](spark: SparkSession, dir: String,
      maxFiles: Int)(zero: A)(
      f: (A, BlockMetaData) => Option[A]): Option[A] = {
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) return None
      val it = fs.listFiles(root, true)
      var acc = zero
      var files = 0
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && st.getLen > 0 &&
            !name.startsWith("_") && !name.startsWith(".")) {
          files += 1
          if (files > maxFiles) return None
          footerOf(st, conf).getBlocks.asScala.foreach { b =>
            f(acc, b) match {
              case Some(next) => acc = next
              case None       => return None
            }
          }
        }
      }
      Some(acc)
    } catch { case NonFatal(_) => None }
  }

  /** The chunks of `column` in one row group. */
  private def chunks(b: BlockMetaData,
      column: String): Seq[ColumnChunkMetaData] =
    b.getColumns.asScala.toSeq.filter(_.getPath.toDotString == column)

  private val counts = new graft.catalog.ListingMemo[Long]
  private val colBytes = new graft.catalog.ListingMemo[Long]
  private val ranges = new graft.catalog.ListingMemo[(Long, Long)]

  /** Exact row count of the parquet table under `dir` from footer
    * record counts alone — no Spark job, no data pages; memoized
    * while `dir`'s listing is unchanged. The r14 scale-adaptive join
    * gate reads this (rows are the right regime signal for JOIN
    * strategy — byte stats see compression, and the q5 gate wants
    * "how many rows will the sorts move"). None when the listing or
    * a footer is unreadable, or past `maxFiles` — callers take the
    * safe default.
    */
  def rowCount(spark: SparkSession, dir: String,
      maxFiles: Int = 65536): Option[Long] =
    counts.get(spark, dir, Seq(dir)) {
      foldFooters(spark, dir, maxFiles)(0L)((n, b) => Some(n + b.getRowCount))
    }

  /** Σ total_uncompressed_size of `column` over every parquet file
    * under `dir` (recursive). None when the listing or any footer is
    * unreadable, or past `maxFiles` (callers must treat None as
    * "unknown — take the safe-at-scale route"). Memoized while
    * `dir`'s listing is unchanged — the clean-corpus gate re-reads
    * it every invocation (r15), and a footer walk per query is pure
    * constant.
    */
  def uncompressedColumnBytes(spark: SparkSession, dir: String,
      column: String, maxFiles: Int = 65536): Option[Long] =
    colBytes.get(spark, s"$dir#$column", Seq(dir)) {
      foldFooters(spark, dir, maxFiles)(0L) { (total, b) =>
        Some(total + chunks(b, column).map(_.getTotalUncompressedSize).sum)
      }
    }

  /** Exact global (min, max) of an INT64 `column` from parquet FOOTER
    * statistics — no Spark job, no data pages. Parquet writers record
    * per-chunk min/max for integer columns exactly, so folding them
    * over every chunk reproduces what a full `agg(min, max)` scan
    * would compute — the pre-pass [[graft.operators.Ranks.idRangeShard]]
    * otherwise pays with an entire corpus-scale column read. Returns
    * None (callers fall back to the scan) when any chunk lacks usable
    * statistics, the column isn't physically INT64, no file carries a
    * non-null value, or the listing is unreadable — None is always
    * safe, a Some is always exact. Memoized while `dir`'s listing is
    * unchanged: repeat pack/budget invocations skip the footer walk.
    */
  def longColumnRange(spark: SparkSession, dir: String,
      column: String, maxFiles: Int = 65536): Option[(Long, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    ranges.get(spark, s"$dir#$column", Seq(dir)) {
      foldFooters(spark, dir, maxFiles)((Long.MaxValue, Long.MinValue,
          false)) { (acc, b) =>
        chunks(b, column).foldLeft(Option(acc)) {
          case (Some((lo, hi, seen)), c) =>
            val s = c.getStatistics
            if (c.getPrimitiveType.getPrimitiveTypeName !=
              PrimitiveTypeName.INT64) None
            else if (s == null || s.isEmpty) None
            else if (!s.hasNonNullValue) Some((lo, hi, seen)) // all-null
            else {
              val mn = s.genericGetMin.asInstanceOf[java.lang.Long].longValue
              val mx = s.genericGetMax.asInstanceOf[java.lang.Long].longValue
              Some((math.min(lo, mn), math.max(hi, mx), true))
            }
          case (None, _) => None
        }
      }.collect { case (lo, hi, true) => (lo, hi) }
    }
  }
}
