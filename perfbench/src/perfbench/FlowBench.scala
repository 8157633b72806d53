package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftSession
import graft.catalog.GraftDatabase

/** One measured run of one flow workload, in its own JVM.
  *
  *   FlowBench --workload W --manifest M --work DIR --seconds S
  *             --trace 0|1 --classes DIR --cpus N --result FILE
  *
  * Set-up (session, index builds, warmup) runs once; then a closed
  * loop with one client issues a fixed number of requests, sized
  * from `--seconds` so a run does the same work whatever the speed.
  * The result file carries the end-to-end numbers, the outputs the
  * requests produced (checked afterwards against DuckDB), and with
  * `--trace 1` the per-layer numbers and the spans.
  */
object FlowBench {

  val mapper = new ObjectMapper()

  final case class Args(workload: String, manifest: String, work: String,
      seconds: Int, trace: Boolean, classes: String, cpus: Int,
      result: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--manifest"), need("--work"),
      need("--seconds").toInt, need("--trace") == "1", need("--classes"),
      need("--cpus").toInt, need("--result"))
  }

  /** The graft classes must come from the build of the checkout
    * under test, never from a stale jar or target directory. */
  private def checkOrigin(classes: String): String = {
    val want = new File(classes).getCanonicalFile
    val got = Seq(classOf[GraftDatabase], classOf[graft.operators.Pipeline.type],
      classOf[graft.sources.CsvUploader.type]).map { c =>
      new File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
        .getCanonicalFile
    }
    got.find(_ != want).foreach { g =>
      System.err.println(s"graft classes loaded from $g, expected $want")
      sys.exit(3)
    }
    want.getPath
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val origin = checkOrigin(args.classes)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val manifest = mapper.readTree(new File(args.manifest))
    new File(args.work).mkdirs()
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[${args.cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", args.cpus.toString)
        .config("spark.local.dir", s"${args.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${args.work}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Clock.nowMs
    val tracer = new Tracer(args.trace)
    val listener = if (args.trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, args, manifest, tracer, listener)
    val w: Workload = args.workload match {
      case "upload_query" => new UploadQuery(ctx)
      case "serve_mixed" => new ServeMixed(ctx)
      case "corpus_shards" => new CorpusShards(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    try {
      val ts = Clock.nowMs
      w.setup()
      val tw = Clock.nowMs
      w.warmup()
      val t0 = Clock.nowMs
      val n = w.requests
      (0 until n).foreach { i =>
        tracer.req = i
        w.request(i)
      }
      val t1 = Clock.nowMs
      tracer.req = -1
      listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
      val results = w.finish(t0, t1)
      System.gc(); System.gc()
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      out.put("origin", origin)
      out.put("requests", n)
      out.put("attempted", w.attempted)
      out.put("failed", w.failed)
      out.put("errors", w.errors.take(20).asJava)
      out.put("window_s", (t1 - t0) / 1000.0)
      out.put("setup", Json.obj(
        "jvm_start_ms" -> jvmStart,
        "session_s" -> (sessionReady - jvmStart) / 1000.0,
        "workload_setup_s" -> (tw - ts) / 1000.0,
        "warmup_s" -> (t0 - tw) / 1000.0,
        "first_op_ms" -> t0))
      out.put("heap_live_mb", mem.getUsed / 1048576.0)
      out.put("metrics", Json.obj(results.metrics.toSeq: _*))
      out.put("layers", Json.obj(results.layers.toSeq: _*))
      out.put("outputs", results.outputs)
      out.put("oracles", Json.obj(w.oracles.toSeq: _*))
      out.put("config", Json.obj(
        "master" -> spark.sparkContext.master,
        "cpus" -> args.cpus,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "advisory_partition_size" ->
          spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "broadcast_threshold" ->
          spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark_version" -> spark.version))
      if (args.trace) {
        out.put("self_s", Json.obj(tracer.selfSecondsByLayer(_.req >= 0)
          .toSeq: _*))
        val pw = new java.io.PrintWriter(s"${args.work}/spans.jsonl")
        try tracer.spans.foreach { s =>
          pw.println(mapper.writeValueAsString(Json.obj(
            "id" -> s.id, "parent" -> s.parent, "req" -> s.req,
            "name" -> s.name, "layer" -> s.layer,
            "start_ms" -> s.start, "end_ms" -> s.end)))
        } finally pw.close()
      }
      mapper.writeValue(new File(args.result), out)
    } finally spark.stop()
  }
}

final case class Ctx(spark: SparkSession, args: FlowBench.Args,
    manifest: JsonNode, tracer: Tracer, listener: Option[EngineListener]) {
  def work: String = args.work
  def traced: Boolean = args.trace
}

final case class Results(metrics: Map[String, Any], layers: Map[String, Any],
    outputs: Any)

/** A flow workload: set-up, a warmup, one closed-loop request at a
  * time, and the numbers once the measured window has closed. */
abstract class Workload(val ctx: Ctx) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  /** Oracle SQL the output checks run in DuckDB, by name. */
  def oracles: Map[String, String] = Map.empty
  /** Requests in the measured window, sized from `--seconds`. */
  def requests: Int
  def setup(): Unit
  def warmup(): Unit
  def request(i: Int): Unit
  def finish(t0: Double, t1: Double): Results

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** Run one op: counts it, records a thrown exception as a failure. */
  protected def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  protected def secondsOf[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Engine totals over the measured window, traced runs only. */
  protected def engineWindow(t0: Double, t1: Double): Map[String, Any] =
    ctx.listener.map(_.window(t0, t1, ctx.args.cpus)).getOrElse(Map.empty)

  /** Spans of one name inside the measured window's requests. */
  protected def spansNamed(n: String): Seq[Span] =
    tracer.spans.filter(s => s.name == n && s.req >= 0).toSeq

  protected def rmTree(p: String): Unit = {
    val f = new File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmTree(c.getPath))
    f.delete()
  }

  protected def countFiles(p: String, pred: File => Boolean): Long = {
    val f = new File(p)
    if (f.isDirectory) f.listFiles().map(c => countFiles(c.getPath, pred)).sum
    else if (f.isFile && pred(f)) 1L else 0L
  }

  protected def dataFile(f: File): Boolean =
    !f.getName.startsWith(".") && !f.getName.startsWith("_")

  protected def rowJson(r: Row): java.util.List[Any] =
    r.toSeq.map {
      case null => null
      case v: java.lang.Double => v
      case v: java.lang.Float => v.toDouble
      case v: java.lang.Long => v
      case v: java.lang.Integer => v.toLong
      case v => String.valueOf(v)
    }.asJava
}

object Json {
  def obj(kv: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def arr(xs: Iterable[Any]): java.util.List[Any] =
    xs.map(conv).toSeq.asJava
  private def conv(v: Any): Any = v match {
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) }: _*)
    case s: Iterable[_] => arr(s)
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
