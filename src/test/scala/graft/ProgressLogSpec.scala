package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase

/** How `_csv_progress_` events are written: on the driver with no Spark
  * job, in the file Spark's own one-row write gives, and readable next
  * to the files of graft versions that wrote the log with
  * parquet-hadoop's example writer.
  */
class ProgressLogSpec extends AnyFunSuite with SparkTestBase {

  private def conf = spark.sessionState.newHadoopConf()

  test("start, update, complete and fail each launch no Spark job") {
    val t = GraftDatabase(spark, scratch("progress_log_jobs") + "/db").progress
    val events = Seq[(String, () => Unit)](
      "start" -> (() => t.start("t1", "tbl", 100L)),
      "update" -> (() => t.update("t1", "tbl", 100L, 40L, 10L, seq = 1L)),
      "complete" -> (() => t.complete("t1", "tbl", 100L, 25L)),
      "fail" -> (() => t.fail("t2", "tbl", "boom")))
    for ((name, event) <- events) {
      val (_, jobs) = jobsLaunchedBy(event())
      assert(jobs == 0, s"$name launched $jobs job(s)")
    }
    assert(t.current().count() == 2L)
  }

  test("a progress file's footer is the one Spark's one-row write.parquet gives") {
    val dir = scratch("progress_log_footer")
    val db = GraftDatabase(spark, s"$dir/db")
    db.progress.fail("t1", "tbl", "boom")
    val Seq(file) = partFiles(db.tablePath(db.progress.tableName))
    spark.read.parquet(file).write.parquet(s"$dir/spark")
    val Seq(sparkFile) = partFiles(s"$dir/spark")
    val ((schema, meta), (sparkSchema, sparkMeta)) =
      (footer(new Path(file)), footer(new Path(sparkFile)))
    assert(schema == sparkSchema)
    val rowKey = "org.apache.spark.sql.parquet.row.metadata"
    assert(meta.get(rowKey).nonEmpty && meta.get(rowKey) == sparkMeta.get(rowKey),
      s"$meta\nvs Spark's\n$sparkMeta")
  }

  /** The log's layout as graft wrote it with parquet-hadoop's example
    * writer before the log was declared as a Spark schema. */
  private val legacyType = MessageTypeParser.parseMessageType(
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

  /** One event in a file of the legacy layout; a null is left unset. */
  private def writeLegacy(file: Path, event: Seq[Any]): Unit = {
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(legacyType).build()
    try {
      val g = new SimpleGroupFactory(legacyType).newGroup()
      legacyType.getFields.asScala.zip(event).foreach {
        case (_, null)       =>
        case (f, v: Long)    => g.append(f.getName, v)
        case (f, v: String)  => g.append(f.getName, v)
        case (f, v)          => fail(s"${f.getName}: $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("a log mixing legacy example-writer files with new ones reads alike through both tiers and SQL") {
    // legacy files first by name, then last: the footer the SQL surface
    // takes its schema from is a legacy one, then a new one
    for (prefix <- Seq("00000000", "ffffffff")) {
      val db = GraftDatabase(spark, scratch(s"progress_log_legacy_$prefix") + "/db")
      val t = db.progress
      val dir = db.tablePath(t.tableName)
      val legacy = Seq[Seq[Any]](
        Seq("old", "tbl", 100L, 0L, 0L, "2026-01-01T00:00:00Z", null, null, 0L),
        Seq("old", "tbl", 100L, 40L, 10L, "", null, null, 1L),
        Seq("gone", "other", 0L, 0L, 0L, "", null, "boom", Long.MaxValue))
      new java.io.File(dir).mkdirs()
      legacy.zipWithIndex.foreach { case (e, i) =>
        writeLegacy(new Path(dir, s"part-$prefix-legacy-$i.parquet"), e) }
      t.complete("old", "tbl", 100L, 25L, completedAt = "2026-01-01T00:01:00Z")
      t.start("new", "tbl2", 50L, started = "2026-01-01T00:02:00Z")
      val added = Seq[Seq[Any]](
        Seq("old", "tbl", 100L, 100L, 25L, "", "2026-01-01T00:01:00Z", null,
          Long.MaxValue),
        Seq("new", "tbl2", 50L, 0L, 0L, "2026-01-01T00:02:00Z", null, null, 0L))

      def rows(rs: Array[Row]) = rs.map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val latest = rows(Array(
        Row("old", "tbl", 100L, 100L, 25L, "2026-01-01T00:00:00Z",
          "2026-01-01T00:01:00Z", null, Long.MaxValue),
        Row("gone", "other", 0L, 0L, 0L, "", null, "boom", Long.MaxValue),
        Row("new", "tbl2", 50L, 0L, 0L, "2026-01-01T00:02:00Z", null, null, 0L)))
      val resident = t.current()
      val plan = t.current(residentBudget = 0L)
      assert(graft.catalog.ResidentArtifact.history("progress", Seq(dir)).isDefined)
      assert(rows(resident.collect()) == latest, prefix)
      assert(rows(plan.collect()) == latest, prefix)
      val sql = db.sql("SELECT * FROM _csv_progress_")
      assert(rows(sql.collect()) == rows((legacy ++ added).map(Row.fromSeq).toArray),
        prefix)
      assert(resident.schema == plan.schema && sql.schema == plan.schema, prefix)
    }
  }
}
