package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Stage-timing probe for C35 fuzzy decontamination: where do the
  * ~3.2 s at the 10× board go — the shingle cache build, the banding
  * pass, or the verify pass?
  */
object DriveDecontamProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scale10").getCanonicalPath)
    val spark = GraftSession.local(32)

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    // what does the size gate see?
    {
      val base = graft.operators.Dedup.docShingleHashesProbe(spark, dir)
        .filter(size(col("sh")) > 0)
      val est = base.queryExecution.optimizedPlan.stats.sizeInBytes
      println(s"[probe] size-gate estimate: $est bytes " +
        s"(gate at ${8L * 1024 * 1024 * 1024})")
    }
    for (rep <- 1 to 2) {
      println(s"== rep $rep ==")
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(250)
      // whole operator, as benched
      t("fuzzyDecontam total") {
        graft.operators.Dedup.fuzzyDecontam(spark, dir).count()
      }
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(250)
      t("fuzzyDecontam persist OFF") {
        graft.operators.Dedup.fuzzyDecontam(spark, dir,
          maxPersistBytes = 0L).count()
      }
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(250)
      // stage decomposition (mirrors the operator's internals)
      val docs = graft.Tables(spark, dir, "documents")
      val sh = docs.select(col("doc_id"),
        graft.operators.Dedup.shingleHashColumnProbe(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("shingle cache build")(sh.count())
      val isBench = col("doc_id") % 17 === 0
      t("bench side only")(sh.filter(isBench).count())
      val k = 128; val bands = 32; val r0 = k / bands
      def banded(df: org.apache.spark.sql.DataFrame, alias: String) =
        df.select(col("doc_id").as(alias),
            graft.functions.GraftFunctions.minhashFromHashes(col("sh"), k, 42L).as("sig"))
          .select(col(alias),
            explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
          .select(col(alias), col("band"),
            xxhash64(col("band"),
              slice(col("sig"), col("band") * r0 + 1, lit(r0))).as("bucket"))
      t("corpus minhash+banding only")(banded(sh.filter(!isBench), "doc_id").count())
      val cands = t("pass1 cands (banding+join)") {
        val c = banded(sh.filter(!isBench), "doc_id")
          .join(broadcast(banded(sh.filter(isBench), "bench_id")),
            Seq("band", "bucket"))
          .select(col("doc_id"), col("bench_id")).distinct()
          .persist()
        println(s"[probe]   candidates: ${c.count()}")
        c
      }
      t("pass2 verify") {
        val benchSh = sh.filter(isBench)
          .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))
        sh.filter(!isBench)
          .join(broadcast(cands.join(benchSh, Seq("bench_id"))), Seq("doc_id"))
          .withColumn("inter", graft.functions.GraftFunctions.sortedIntersectSize(col("sh"), col("sh_b")).cast("double"))
          .withColumn("jaccard", col("inter") /
            (size(col("sh")) + size(col("sh_b")) - col("inter")))
          .filter(col("jaccard") >= 0.8).count()
      }
      cands.unpersist()
      sh.unpersist()
    }
    spark.stop()
  }
}
