package graft

/** Dev utility: bench-methodology timing for named queries — the exact
  * Bench session conf (shuffle partitions = cpus, AQE, 64MB broadcast,
  * graft shuffle manager, snappy/128k), noop-sink forcing, N round-robin
  * passes, min reported. Use for before/after numbers while iterating;
  * the committed round record still comes from graft.Bench.
  *
  * Usage: RunQuick <sfDir> <q1> [q2 ...]
  */
object RunQuick {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val qs = args.tail.toSeq
    require(qs.nonEmpty, "name at least one query")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Sessions.bench()
    val runs = collection.mutable.LinkedHashMap[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val cpuBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpus0 = collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to nRuns).foreach { pass =>
      qs.foreach { q =>
        spark.sparkContext.setJobDescription(s"runquick: $q pass $pass")
        val t0 = System.nanoTime()
        val c0 = cpuBean.getProcessCpuTime
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        runs(q) = runs(q) :+ w
        cpus0(q) = cpus0(q) :+ (cpuBean.getProcessCpuTime - c0) / 1e9
        System.err.println(f"[quick] pass $pass $q: $w%.2f s")
      }
    }
    println(s"fixture=$sfDir runs=$nRuns (min wall | cpu@min | all walls)")
    qs.foreach { q =>
      val r = runs(q)
      val c = cpus0(q)(r.indexOf(r.min))
      println(f"$q%-26s ${r.min}%7.2f | $c%8.2f | " +
        r.map(x => f"$x%.2f").mkString(","))
    }
    spark.stop()
  }
}
