package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables

/** Stage-by-stage wall-clock probe of the C20a/C20b exact-substring
  * pipelines at a given corpus dir (default: the 10× board data) —
  * localizes which stage owns the 10× gap vs DuckDB before any
  * rewrite is attempted (the E4/E9 lesson: measure, then fuse).
  */
object DriveSubstrProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      new java.io.File("target/scale10").getCanonicalPath)
    val w = 12
    val spark = graft.GraftSession.local(32)
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s  (rows=$n)")
    }
    val docs = Tables(spark, dir, "documents")
    val wh = graft.operators.Dedup.windowHashesProbe(docs, w)
    val counts = wh.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val okH = counts.filter(col("occ") <= 1000 && col("occ") >= 2)
      .select(col("h"))
    val whd = wh.join(okH, Seq("h"))
      .select(col("h"), col("doc_id")).distinct()
    val selfJoin = whd.select(col("h"), col("doc_id").as("doc_id_a"))
      .join(whd.select(col("h"), col("doc_id").as("doc_id_b")), Seq("h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
    if (sys.env.contains("SUBSTR_EXPLAIN")) {
      import org.apache.spark.scheduler._
      @volatile var stages = List.empty[String]
      val listener = new SparkListener {
        override def onStageCompleted(
            sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val m = si.taskMetrics
          stages ::= f"stage ${si.stageId}%3d ${ms / 1000.0}%7.2f s  " +
            f"tasks=${si.numTasks}%4d in=${m.inputMetrics.bytesRead / 1e6}%8.1f MB " +
            f"shRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
            f"shWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB  " +
            si.name.take(60)
        }
      }
      // warm rep first, then the measured rep with listener attached
      graft.operators.Dedup.substringPairsOf(docs, w, 1000).collect()
      spark.sparkContext.addSparkListener(listener)
      val p = graft.operators.Dedup.substringPairsOf(docs, w, 1000)
      val t0 = System.nanoTime()
      p.collect()
      println(f"==== PAIRS warm total ${(System.nanoTime() - t0) / 1e9}%.2f s ====")
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(1000)
      stages.reverse.foreach(println)
      println("==== PAIRS final plan ====")
      println(p.queryExecution.executedPlan.toString.take(6000))
      spark.stop(); return
    }
    for (rep <- 1 to 2) {
      time(s"windowHashes map pass (rep $rep)") { wh.count() }
      time(s"groupBy h count (rep $rep)") { counts.count() }
      time(s"whd distinct (rep $rep)") { whd.count() }
      time(s"self-join no final agg (rep $rep)") { selfJoin.count() }
      time(s"full substringPairs (rep $rep)") {
        graft.operators.Dedup.substringPairsOf(docs, w, 1000).count()
      }
      time(s"full substringSpans (rep $rep)") {
        graft.operators.Dedup.substringSpans(spark, dir, w).count()
      }
    }
    spark.stop()
  }
}
