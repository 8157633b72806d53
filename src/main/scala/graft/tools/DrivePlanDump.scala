package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` of named declared queries to
  * `<outDir>/<query>_<suffix>.txt` (how `plans/r15` and `plans/r16`
  * were written; plan claims are checked against these files). Usage:
  *
  *   sbt "runMain graft.tools.DrivePlanDump plans/r16 before q3_shipping_priority ..."
  *
  * SPARK_GRAFT_SF_DIR picks the data dir (default sf0.01 — plan
  * SHAPE is what the files pin, and operators with fixture side
  * effects run fastest there). Not library surface.
  */
object DrivePlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: DrivePlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    for (n <- args.drop(2)) {
      val txt =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: $e"
        }
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        (s"-- $n ($suffix), sfDir=$sfDir\n" + txt)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
