package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one request share `req`;
  * `parent` is the enclosing span's id (-1 at the request root).
  * Times are epoch milliseconds as doubles, derived from nanoTime so
  * durations keep sub-millisecond resolution while still lining up
  * with Spark's event timestamps.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    layer: String, start: Double, end: Double) {
  def durS: Double = (end - start) / 1000.0
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  var req: Int = -1

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val s = Clock.nowMs
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, req, name, layer, s, Clock.nowMs)
    }
  }

  /** Self time per layer over the spans `keep` selects: each span's
    * duration minus the part of its interval its child spans cover. */
  def selfSecondsByLayer(keep: Span => Boolean): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(keep).map { s =>
      val covered = Tracer.union(kids.getOrElse(s.id, Nil)
        .map(c => (c.start max s.start, c.end min s.end)).toSeq)
      s.layer -> ((s.end - s.start) - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  /** Total length (ms) of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, group: String, start: Double,
    var end: Double, stageIds: Seq[Int])
final case class StageRec(id: Int, done: Double)
final case class TaskRec(stage: Int, finish: Double, durMs: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, shW: Long, shR: Long,
    spill: Long)

/** The benchmark's own engine listener: every job, executed stage
  * and finished task, timestamped, so any window or span can be
  * attributed afterwards. Events arrive on Spark's bus thread; read
  * only after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class EngineListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.HashMap[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = JobRec(e.jobId, g, e.time.toDouble, Double.NaN, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId,
        i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks += TaskRec(e.stageId, info.finishTime.toDouble, info.duration,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Engine totals over the wall window [a, b] (epoch ms). */
  def window(a: Double, b: Double, cpus: Int): Map[String, Double] =
    synchronized {
      val js = jobs.filter(j => j.start >= a && j.start <= b)
      val ss = stages.filter(s => s.done >= a && s.done <= b)
      val ts = tasks.filter(t => t.finish >= a && t.finish <= b)
      val busy = Tracer.union(js.map(j =>
        (j.start, if (j.end.isNaN) b else j.end min b)).toSeq)
      val wallS = (b - a) / 1000.0
      val cpuS = ts.map(_.cpuNs).sum / 1e9
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.driver_s" -> (wallS - busy / 1000.0),
        "spark.exec_cpu_s" -> cpuS,
        "spark.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cpus) else 0.0),
        "spark.shuffle_write_bytes" -> ts.map(_.shW).sum.toDouble,
        "spark.shuffle_read_bytes" -> ts.map(_.shR).sum.toDouble,
        "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
        "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "spark.task_skew_max" -> skewMax(ts.toSeq))
    }

  /** Largest max/median task-time ratio over stages of >= 2 tasks. */
  def skewMax(ts: Seq[TaskRec]): Double = {
    val per = ts.groupBy(_.stage).values.filter(_.size >= 2).map(skew)
    if (per.isEmpty) 1.0 else per.max
  }

  def skew(ts: Seq[TaskRec]): Double = {
    val d = ts.map(_.durMs.toDouble max 1.0).sorted
    d.last / Stats.median(d)
  }

  /** Jobs that started inside a span. */
  def jobsIn(s: Span): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= s.start && j.start <= s.end).toSeq
  }

  def tasksIn(s: Span): Seq[TaskRec] = synchronized {
    tasks.filter(t => t.finish >= s.start && t.finish <= s.end).toSeq
  }

  /** Span time with no job of this listener running (ms). */
  def driverMs(s: Span): Double =
    (s.end - s.start) - jobMs(s, jobsIn(s))

  /** Time (ms) the given jobs ran inside the span, as a union. */
  def jobMs(s: Span, js: Seq[JobRec]): Double =
    Tracer.union(js.map(j =>
      (j.start max s.start, if (j.end.isNaN) s.end else j.end min s.end)))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
