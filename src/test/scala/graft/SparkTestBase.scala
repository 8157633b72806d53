package graft

import org.apache.spark.sql.SparkSession

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
}
