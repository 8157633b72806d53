package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** r8 probe: model-table cardinalities + stage timings for the LM
  * family at the 10x layout — decides gate caps and join-path shape.
  * Not part of the library surface.
  */
object DriveLmProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scale10").getCanonicalPath)
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    def toks(c: org.apache.spark.sql.Column) =
      regexp_extract_all(lower(c), lit("\\S+"), lit(0))

    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))

    def t(name: String)(mk: => Long): Unit = {
      val times = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = mk
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[lmprobe] $name%-40s min=${times.map(_._1).min}%.3f n=${times.head._2}")
    }

    val d = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    t("bigram vocab rows (full corpus)") {
      d.select(explode(
          zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1))).count()
    }
    val d3 = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .filter(col("doc_id") % 5 =!= 0)
    t("trigram vocab rows (train split)") {
      d3.select(explode(
          zip_with(
            zip_with(slice(col("t"), lit(1), size(col("t")) - 2),
              slice(col("t"), lit(2), size(col("t")) - 2),
              (a, b) => concat_ws(" ", a, b)),
            slice(col("t"), lit(3), size(col("t")) - 2),
            (p, c) => concat_ws(" ", p, c))).as("g"))
        .groupBy(col("g")).agg(count(lit(1))).count()
    }
    t("byTgt rows (moore-lewis gate input)") {
      docs.select(col("source"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("source").isin((0 to 3).map("src" + _): _*).as("tgt"),
          explode(zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bg"))
        .groupBy(col("bg"), col("tgt")).agg(count(lit(1))).count()
    }
    t("held trigram occurrences") {
      docs.select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .filter(col("doc_id") % 5 === 0)
        .select(explode(slice(col("t"), lit(1), size(col("t")) - 2)))
        .count()
    }
    spark.stop()
  }
}
