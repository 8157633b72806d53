package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions.col

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, EncodingDetector, PerfbenchFrame,
  TypeInference}

/** upload_query: one `CsvUploader.upload` per seeded CSV file, then a
  * `GraftDatabase.sql` aggregate over the new table and a
  * `_csv_progress_` read — one request, one client, closed loop. The
  * stream is uploaded `passes` times, each pass into a fresh database,
  * so every pass grows its database from one table to the stream's
  * size and repeats the `_2`/`_3` names. */
final class UploadQuery(c: Ctx) extends Workload(c) {
  /** Nominal seconds per pass on a 4-CPU VM; sizes the run. */
  private val PassSeconds = 20.0

  private case class CsvFile(path: String, encoding: String, rows: Long,
      bytes: Long, columns: Seq[String], types: Seq[String])

  private def files(n: JsonNode): Seq[CsvFile] = n.elements().asScala.map { f =>
    CsvFile(f.get("path").asText, f.get("encoding").asText,
      f.get("rows").asLong, f.get("bytes").asLong,
      f.get("columns").elements().asScala.map(_.asText).toSeq,
      f.get("types").elements().asScala.map(_.asText).toSeq)
  }.toSeq

  private val stream = files(ctx.manifest.get("stream"))
  private val warm = files(ctx.manifest.get("warmup"))
  private val passes =
    math.max(1, math.ceil(ctx.args.seconds / PassSeconds).toInt)
  def requests: Int = passes * stream.size
  private var dbs = IndexedSeq.empty[GraftDatabase]

  private case class Rec(i: Int, file: CsvFile, res: CsvUploader.UploadResult,
      uploadS: Double, sql: String, answer: Seq[java.util.List[Any]],
      constructS: Double, execS: Double, progress: Option[java.util.List[Any]],
      progressS: Double)
  private val recs = mutable.ArrayBuffer[Rec]()

  def setup(): Unit =
    dbs = (0 until passes).map(p => GraftDatabase(spark, s"${ctx.work}/db_$p"))

  def warmup(): Unit = {
    val wdb = GraftDatabase(spark, s"${ctx.work}/warm_db")
    warm.foreach { f =>
      val r = CsvUploader.upload(wdb, f.path)
      if (r.error.isEmpty) {
        wdb.sql(aggregateSql(r.tableName, f)).collect()
        wdb.progress.current().filter(col("id") === r.taskId).collect()
      }
    }
  }

  /** The aggregate each upload is queried with. Integer sums are cast
    * to BIGINT and floats only min/max'd, so both engines answer
    * with the same types and bit-identical values. */
  def aggregateSql(table: String, f: CsvFile): String = {
    val parts = Seq("COUNT(*) AS n_rows") ++ f.columns.zip(f.types).flatMap {
      case (c, "integer") =>
        Seq(s"COUNT($c) AS ${c}_n", s"CAST(SUM($c) AS BIGINT) AS ${c}_sum")
      case (c, "float") =>
        Seq(s"COUNT($c) AS ${c}_n", s"MIN($c) AS ${c}_min", s"MAX($c) AS ${c}_max")
      case (c, _) =>
        Seq(s"COUNT($c) AS ${c}_n",
          s"CAST(SUM(LENGTH($c)) AS BIGINT) AS ${c}_chars",
          s"MIN($c) AS ${c}_min", s"MAX($c) AS ${c}_max")
    }
    s"SELECT ${parts.mkString(", ")} FROM $table"
  }

  def request(i: Int): Unit = {
    val f = stream(i % stream.size)
    val db = dbs(i / stream.size)
    val taskId = f"bench-$i%05d"
    tracer.span("request.upload_query", "bench") {
      val up = attempt("upload") {
        secondsOf(tracer.span("sources.upload", "sources") {
          CsvUploader.upload(db, f.path, taskId = taskId)
        })
      }
      up.foreach { case (res, upS) =>
        if (res.error.nonEmpty) {
          failed += 1
          errors += s"upload ${f.path}: ${res.error.get}"
          recs += Rec(i, f, res, upS, "", Nil, 0, 0, None, 0)
        } else {
          val sql = aggregateSql(res.tableName, f)
          val q = attempt("query") {
            val (df, cS) = secondsOf(tracer.span("catalog.sql", "catalog") {
              db.sql(sql)
            })
            val (rows, eS) = secondsOf(tracer.span("query.exec", "spark") {
              df.collect()
            })
            (rows.map(rowJson).toSeq, cS, eS)
          }
          val p = attempt("progress") {
            secondsOf(tracer.span("catalog.progress", "catalog") {
              db.progress.current().filter(col("id") === taskId)
                .select("bytes_todo", "bytes_done", "rows_done",
                  "completed", "error").collect()
            })
          }
          val (answer, cS, eS) = q.getOrElse((Nil, 0.0, 0.0))
          recs += Rec(i, f, res, upS, sql, answer, cS, eS,
            p.flatMap(_._1.headOption).map(rowJson), p.map(_._2).getOrElse(0.0))
        }
      }
    }
  }

  def finish(t0: Double, t1: Double): Results = {
    val ok = recs.filter(_.res.error.isEmpty).toSeq
    val upS = recs.map(_.uploadS).toSeq
    val mb = ok.map(_.file.bytes).sum / 1048576.0
    val qS = ok.map(r => r.constructS + r.execS)
    val reqPerS = recs.size / ((t1 - t0) / 1000.0)
    val metrics = Map[String, Any](
      "upload_s_p50" -> Stats.median(upS),
      "upload_mb_s" -> mb / ok.map(_.uploadS).sum,
      "query_s_p50" -> Stats.median(qS),
      "progress_s_p50" -> Stats.median(ok.map(_.progressS)),
      "uploads" -> recs.size,
      "passes" -> passes,
      "requests_per_s" -> reqPerS,
      "main_s_p50" -> Stats.median(upS),
      "side_s_p50" -> Stats.median(qS),
      // the whole window rather than upload_mb_s, which rests on the
      // two multi-MB uploads of each pass alone
      "work_per_s" -> reqPerS)
    val outputs = Json.arr(recs.map { r =>
      Json.obj(
        "i" -> r.i, "pass" -> r.i / stream.size, "path" -> r.file.path,
        "table" -> r.res.tableName,
        "task_id" -> r.res.taskId, "rows_done" -> r.res.rowsDone,
        "bytes_todo" -> r.res.bytesTodo, "encoding" -> r.res.encoding,
        "types" -> Json.arr(r.res.types.map(_._2.name)),
        "type_columns" -> Json.arr(r.res.types.map(_._1)),
        "error" -> r.res.error.orNull, "sql" -> r.sql,
        "upload_s" -> r.uploadS, "query_s" -> (r.constructS + r.execS),
        "answer" -> r.answer.asJava, "progress" -> r.progress.orNull)
    })
    Results(metrics, if (ctx.traced) layers(t0, t1) else Map.empty, outputs)
  }

  /** The sources layer's own public calls, timed one by one on the
    * stream's files after the measured window (outside its engine
    * counts): `EncodingDetector.detect`, and
    * `TypeInference.inferWithCount` on the all-string frame the upload
    * builds. A probe whose types or row count differ from the
    * upload's did not see the upload's frame; that is an error. */
  private def probeSources(): Unit = stream.zipWithIndex.foreach { case (f, k) =>
    tracer.span("sources.sniff", "sources") {
      EncodingDetector.detect(spark, f.path)
    }
    val (types, rows) = PerfbenchFrame.withFrame(spark, f.path) { raw =>
      tracer.span("sources.infer", "sources") {
        TypeInference.inferWithCount(raw)
      }
    }
    recs.find(r => r.i == k && r.res.error.isEmpty).foreach { r =>
      if (types != r.res.types || rows != r.res.rowsDone)
        errors += s"infer probe ${f.path}: $types/$rows != upload's " +
          s"${r.res.types}/${r.res.rowsDone}"
    }
  }

  private def probeSeconds(n: String): Seq[Double] =
    tracer.spans.filter(s => s.name == n && s.req < 0).map(_.durS).toSeq

  private def layers(t0: Double, t1: Double): Map[String, Any] = {
    val l = ctx.listener.get
    val engine = engineWindow(t0, t1)
    probeSources()
    val ups = spansNamed("sources.upload")
    val byReq = recs.map(r => r.i -> r).toMap
    def groupJobs(s: Span) = {
      val tid = byReq.get(s.req).map(_.res.taskId).getOrElse("")
      l.jobsIn(s).partition(_.group == tid)
    }
    val largest = ups.filter(s => byReq.contains(s.req))
      .maxBy(s => byReq(s.req).file.bytes)
    val (lgGroup, _) = groupJobs(largest)
    val lgStages = lgGroup.flatMap(_.stageIds).toSet
    val lgTasks = l.tasksIn(largest).filter(t => lgStages.contains(t.stage))
    val writeStage = lgTasks.groupBy(_.stage).values.maxBy(_.size)
    val csvBytes = recs.map(_.file.bytes).sum.toDouble
    val inBytes = ups.map(s => l.tasksIn(s).map(_.inBytes).sum).sum.toDouble
    val progressRows = dbs.flatMap(db => db.sql(
      "SELECT id, COUNT(*) AS n FROM _csv_progress_ GROUP BY id").collect()
      .map(r => r.getString(0) -> r.getLong(1))).toMap
    val tables = dbs.map(db => db -> db.listTables())
    val sqlSpans = spansNamed("catalog.sql")
    val execSpans = spansNamed("query.exec")
    val qJobs = sqlSpans.map(l.jobsIn(_).size) ++ execSpans.map(l.jobsIn(_).size)
    engine ++ Map(
      "sources.sniff_s" -> Stats.median(probeSeconds("sources.sniff")),
      "sources.infer_s" -> Stats.median(probeSeconds("sources.infer")),
      "upload.driver_s" -> Stats.median(ups.map(l.driverMs(_) / 1000.0)),
      "upload.jobs" -> Stats.mean(ups.map(l.jobsIn(_).size.toDouble)),
      "upload.write_s" -> Stats.median(ups.map { s =>
        l.jobMs(s, groupJobs(s)._1) / 1000.0 }),
      "upload.other_jobs_s" -> Stats.median(ups.map { s =>
        l.jobMs(s, groupJobs(s)._2) / 1000.0 }),
      "upload.exec_cpu_s" -> ups.map(l.tasksIn(_).map(_.cpuNs).sum / 1e9).sum,
      "upload.read_amp" -> inBytes / csvBytes,
      "upload.task_skew" -> l.skew(writeStage),
      "progress.rows_per_upload" -> Stats.mean(recs.map(r =>
        progressRows.getOrElse(r.res.taskId, 0L).toDouble).toSeq),
      "progress.files" -> Stats.mean(dbs.map(db =>
        countFiles(s"${db.path}/_csv_progress_", dataFile).toDouble)),
      "catalog.sql_construct_s" -> Stats.median(sqlSpans.map(_.durS)),
      "catalog.tables" -> Stats.mean(tables.map(_._2.size.toDouble)),
      "catalog.files_per_table" -> Stats.mean(tables.flatMap { case (db, ts) =>
        ts.map(t => countFiles(db.tablePath(t), f => dataFile(f) &&
          f.getName.endsWith(".parquet")).toDouble) }),
      "query.exec_s" -> Stats.median(execSpans.map(_.durS)),
      "query.jobs" -> qJobs.sum.toDouble / sqlSpans.size,
      "main.jobs" -> Stats.mean(ups.map(l.jobsIn(_).size.toDouble)),
      "main.driver_s" -> Stats.median(ups.map(l.driverMs(_) / 1000.0)),
      "side.jobs" -> qJobs.sum.toDouble / sqlSpans.size,
      "side.driver_s" -> Stats.median(sqlSpans.zip(execSpans).map { case (a, b) =>
        (l.driverMs(a) + l.driverMs(b)) / 1000.0 }))
  }
}
