package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** min-of-2 stage probe of the C8 clean-corpus composite at the 10x
  * board (r6): where does the wall time sit — gates, dedup agg, or
  * the AllPairs tail?
  */
object RepPlan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      new java.io.File("target/scale10").getCanonicalPath)
    val spark = graft.GraftSession.local(32)
    def time(label: String)(f: => Long): Unit = {
      var best = Long.MaxValue
      var n = 0L
      for (_ <- 1 to 2) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        n = f
        best = math.min(best, System.nanoTime() - t0)
      }
      println(f"[probe] $label%-40s ${best / 1e9}%7.2f s  (rows=$n)")
    }
    val docs = Tables(spark, dir, "documents")
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("pred_lang", langId(col("text")))
      .filter(col("quality") >= 0.7 && col("pred_lang") === "en")
    time("gates only") { docs.count() }
    val canonical = docs
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
    time("gates + exact dedup") { canonical.count() }
    time("full cleanCorpus") {
      graft.operators.Pipeline.cleanCorpus(spark, dir).count()
    }
    spark.stop()
  }
}
