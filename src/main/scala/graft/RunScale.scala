package graft

/** Dev utility: generate the [[ScaleFixture]] and time the scale
  * family against it (the same measurement Bench embeds in
  * bench_full_r<N>.json). Usage: RunScale [sfDir] */
object RunScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.bench()
    val ambient = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val (factor, factor3, pts) = Bench.scalePointTimings(spark, sfDir,
      Map.empty[String, Double], ambient)
    pts.sortBy(_._1).foreach { case (k, p) =>
      val sf1 = p.sf1.map(m => f"${m.wall}%8.2f s u=${m.util}%.2f").getOrElse(
        s"cancelled@${p.cancelledAt.getOrElse(0)}s")
      val sf3 = p.sf3.map(m => f"  sf3(x$factor3) ${m.wall}%8.2f s u=${m.util}%.2f")
        .getOrElse("")
      val exp = p.sf1.map(m =>
        f"${math.log(m.wall / p.sf01.wall) / math.log(factor.toDouble)}%.2f").getOrElse("-")
      val stall = if (p.stallSuspect) "  STALL-SUSPECT" else ""
      println(f"$k%-20s sf0.1 ${p.sf01.wall}%7.2f s   sf1 $sf1   exp $exp$sf3$stall")
    }
    spark.stop()
  }
}
