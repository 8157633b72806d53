package graft.tools

import org.apache.spark.sql.SparkSession

/** r8 probe: trigram-perplexity plan + timing decomposition at 10x. */
object DriveTriProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scale10").getCanonicalPath)
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    def t(name: String, reps: Int = 3)(mk: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = mk
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[tri] $name%-30s min=${times.map(_._1).min}%.3f n=${times.head._2}")
    }

    // warmup
    graft.operators.LanguageModel.perplexityTrigram(spark, sf).count()
    t("full (current)")(
      graft.operators.LanguageModel.perplexityTrigram(spark, sf).count())
    println("=== plan ===")
    graft.operators.LanguageModel.perplexityTrigram(spark, sf)
      .explain("formatted")
    spark.stop()
  }
}
