package graft.tools

/** VERDICT r12 #5 lever (b): the bucketed star-join twins have STATIC
  * plans (zero/one exchange, layout-proven), so AQE's per-stage
  * barriers and replans are pure overhead there. This probe times
  * q3_bucketed / q5_bucketed with AQE on vs off in one session
  * (adaptive.enabled is runtime-settable), interleaved A/B/A/B so a
  * host-phase drift cannot masquerade as a knob effect; min of 4
  * per arm reported. Also runs the cold unbucketed forms as the
  * control arm (their plans DO benefit from AQE broadcasts — the off
  * arm is expected to regress there, which is why the knob cannot
  * just be flipped engine-wide).
  */
object DriveAqeProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scale10").getCanonicalPath)
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val names = Seq("q3_bucketed", "q5_bucketed",
      "q3_shipping_priority", "q5_region_revenue")
    // warm warehouse + JIT both arms before any timing
    names.foreach { n =>
      graft.operators.Analytics.queries(n)(spark, dir).count() }

    def once(name: String, aqe: Boolean): Double = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(250)
      val t0 = System.nanoTime()
      graft.operators.Analytics.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }

    names.foreach { n =>
      val reps = (1 to 4).flatMap(_ => Seq(true, false).map(a => a -> once(n, a)))
      val on = reps.collect { case (true, s) => s }
      val off = reps.collect { case (false, s) => s }
      println(f"[aqe] $n%-22s on=${on.min}%.3f off=${off.min}%.3f " +
        f"(on all=${on.map(x => f"$x%.2f").mkString(",")} " +
        f"off all=${off.map(x => f"$x%.2f").mkString(",")})")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.stop()
  }
}
