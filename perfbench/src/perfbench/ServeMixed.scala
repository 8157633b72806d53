package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.catalog.GraftDatabase
import graft.operators.{Hnsw, TextIndex}
import graft.streaming.StreamingTextIndex

/** serve_mixed: interactive serving from one stored text index and
  * one stored HNSW index — ranked keyword search, top-10 vector
  * search for small query batches, and small document appends under
  * the reads. One client, closed loop. The run issues whole rounds of
  * the manifest's fixed op pattern, so the op mix is exact. */
final class ServeMixed(c: Ctx) extends Workload(c) {
  /** Nominal seconds per pattern round on a 4-CPU VM; sizes the run. */
  private val RoundSeconds = 15.0
  private val Buckets = 8
  private val K = 10
  private val Table = "postings"
  private val Vec = "vec"
  private val reqs = ctx.manifest.get("requests").elements().asScala.toIndexedSeq
  val requests: Int = ctx.manifest.get("pattern_len").asInt *
    math.max(1, math.ceil(ctx.args.seconds / RoundSeconds).toInt)
  require(requests <= reqs.size,
    s"$requests requests asked, the manifest holds ${reqs.size}")
  private var db: GraftDatabase = _
  private var buildTextS = Double.NaN
  private var buildHnswS = Double.NaN
  private var appended = 0

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding",
      ArrayType(FloatType, containsNull = false))))

  private case class Rec(i: Int, op: String, s: Double, constructS: Double,
      execS: Double, appendedBefore: Int, rows: Seq[java.util.List[Any]])
  private val recs = mutable.ArrayBuffer[Rec]()

  override def oracles: Map[String, String] =
    TextIndex.oracles.filter(_._1 == "text_search_ranked")

  def setup(): Unit = {
    db = GraftDatabase(spark, s"${ctx.work}/serve")
    val docs = spark.read.parquet(ctx.manifest.get("docs").asText)
    buildTextS = secondsOf(tracer.span("build.text_index", "operators") {
      TextIndex.buildIndex(db, Table, docs, Buckets)
    })._2
    val emb = spark.read.parquet(ctx.manifest.get("emb").asText)
    buildHnswS = secondsOf(tracer.span("build.hnsw", "operators") {
      Hnsw.buildHnswIndex(db, emb, Vec)
    })._2
  }

  /** Searches only: the warm index state stays the base build. */
  def warmup(): Unit =
    reqs.reverseIterator.filter(_.get("op").asText != "append").take(6)
      .foreach(r => if (r.get("op").asText == "text") textSearch(r)
        else hnswSearch(r))

  private def textSearch(r: JsonNode) = {
    val terms = r.get("terms").elements().asScala.map(_.asText).toSeq
    val (df, cS) = secondsOf(tracer.span("serve.text.construct", "operators") {
      TextIndex.searchRanked(db, Table, terms, K)
    })
    val (rows, eS) = secondsOf(tracer.span("serve.text.exec", "spark") {
      df.collect()
    })
    (rows, cS, eS)
  }

  private def hnswSearch(r: JsonNode) = {
    val ids = r.get("ids").elements().asScala.map(_.asLong).toSeq
    val vecs = r.get("vecs").elements().asScala.map(
      _.elements().asScala.map(_.floatValue()).toArray).toSeq
    val q = spark.createDataFrame(
      ids.zip(vecs).map { case (id, v) => Row(id, v.toSeq) }.asJava, embSchema)
    val (df, cS) = secondsOf(tracer.span("serve.hnsw.construct", "operators") {
      Hnsw.hnswTopkFromIndex(db, Vec, q, K)
    })
    val (rows, eS) = secondsOf(tracer.span("serve.hnsw.exec", "spark") {
      df.collect()
    })
    (rows, cS, eS)
  }

  def request(i: Int): Unit = {
    val r = reqs(i)
    val op = r.get("op").asText
    tracer.span(s"request.$op", "bench") {
      val t = System.nanoTime()
      op match {
        case "append" =>
          attempt("append") {
            val docs = spark.read.schema("doc_id BIGINT, text STRING")
              .parquet(r.get("path").asText)
            tracer.span("append", "streaming") {
              StreamingTextIndex.appendBatch(db, Table, docs, Buckets,
                r.get("batch").asLong)
            }
            appended += 1
            recs += Rec(i, op, (System.nanoTime() - t) / 1e9, 0, 0,
              appended - 1, Nil)
          }
        case _ =>
          val before = appended
          attempt(op) {
            val (rows, cS, eS) =
              if (op == "text") textSearch(r) else hnswSearch(r)
            recs += Rec(i, op, (System.nanoTime() - t) / 1e9, cS, eS, before,
              rows.map(rowJson).toSeq)
          }
      }
    }
  }

  def finish(t0: Double, t1: Double): Results = {
    def lat(op: String) = recs.filter(_.op == op).map(_.s).toSeq
    val search = recs.filter(_.op != "append").map(_.s).toSeq
    val qps = recs.size / ((t1 - t0) / 1000.0)
    val metrics = Map[String, Any](
      "serve_s_p50" -> Stats.median(search),
      "serve_s_p95" -> Stats.quantile(search, 0.95),
      "serve_text_s_p50" -> Stats.median(lat("text")),
      "serve_hnsw_s_p50" -> Stats.median(lat("hnsw")),
      "serve_qps" -> qps,
      "append_s_p50" -> Stats.median(lat("append")),
      "searches" -> search.size,
      "appends" -> lat("append").size,
      // text and HNSW latencies form two clusters; a median over both
      // lands between them, so each op gets its own median
      "main_s_p50" -> Stats.median(lat("text")),
      "side_s_p50" -> Stats.median(lat("hnsw")),
      "work_per_s" -> qps)
    val outputs = Json.arr(recs.map(r => Json.obj("i" -> r.i, "op" -> r.op,
      "s" -> r.s, "appended_before" -> r.appendedBefore,
      "rows" -> r.rows.asJava)))
    Results(metrics, if (ctx.traced) layers(t0, t1) else Map.empty, outputs)
  }

  private def layers(t0: Double, t1: Double): Map[String, Any] = {
    val l = ctx.listener.get
    val reqSpans = tracer.spans.filter(s => s.name.startsWith("request.") &&
      s.req >= 0).toSeq
    val searchReq = reqSpans.filter(_.name != "request.append")
    val textReq = reqSpans.filter(_.name == "request.text")
    val hnswReq = reqSpans.filter(_.name == "request.hnsw")
    val appendSpans = spansNamed("append")
    def med(n: String) = Stats.median(spansNamed(n).map(_.durS))
    def perReq(f: Span => Double) = Stats.mean(searchReq.map(f))
    engineWindow(t0, t1) ++ Map(
      "serve.text.construct_s" -> med("serve.text.construct"),
      "serve.text.exec_s" -> med("serve.text.exec"),
      "serve.hnsw.construct_s" -> med("serve.hnsw.construct"),
      "serve.hnsw.exec_s" -> med("serve.hnsw.exec"),
      "serve.driver_s" -> Stats.median(searchReq.map(l.driverMs(_) / 1000.0)),
      "serve.jobs_per_req" -> perReq(l.jobsIn(_).size.toDouble),
      "serve.tasks_per_req" -> perReq(l.tasksIn(_).size.toDouble),
      "serve.input_bytes_per_req" -> perReq(l.tasksIn(_).map(_.inBytes).sum.toDouble),
      "index.files" -> Seq(Table, s"${Table}_len", s"${Table}_df",
        s"${Table}_corpus").map(t => countFiles(db.tablePath(t), f =>
          dataFile(f) && f.getName.endsWith(".parquet"))).sum,
      "append.jobs" -> Stats.mean(appendSpans.map(l.jobsIn(_).size.toDouble)),
      "append.s" -> Stats.median(appendSpans.map(_.durS)),
      "build.text_index_s" -> buildTextS,
      "build.hnsw_s" -> buildHnswS,
      "main.jobs" -> Stats.mean(textReq.map(l.jobsIn(_).size.toDouble)),
      "main.driver_s" -> Stats.median(textReq.map(l.driverMs(_) / 1000.0)),
      "side.jobs" -> Stats.mean(hnswReq.map(l.jobsIn(_).size.toDouble)),
      "side.driver_s" -> Stats.median(hnswReq.map(l.driverMs(_) / 1000.0)))
  }
}
