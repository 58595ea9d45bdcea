package graft

/** Dev utility: A/B a session conf across named suite queries at one
  * fixture, interleaved round-robin (configA pass, configB pass, ×N) so
  * a host stall inflates one pass of both arms instead of one whole
  * arm. Reports min + all runs per (query, arm).
  *
  * Usage: RunSuiteAB <sfDir> <confKey> <valueA> <valueB> <q1> [q2 ...]
  */
object RunSuiteAB {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, confKey, valueA, valueB, qs @ _*) = args: @unchecked
    require(qs.nonEmpty, "name at least one query")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Sessions.bench()
    val runs = collection.mutable.Map[(String, String), Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to nRuns).foreach { pass =>
      Seq(valueA, valueB).foreach { v =>
        spark.conf.set(confKey, v)
        qs.foreach { q =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val w = (System.nanoTime() - t0) / 1e9
          runs((q, v)) = runs((q, v)) :+ w
          System.err.println(f"[ab] pass $pass $q $confKey=$v: $w%.2f s")
        }
      }
    }
    println(s"conf=$confKey fixture=$sfDir runs=$nRuns (min | all)")
    qs.foreach { q =>
      Seq(valueA, valueB).foreach { v =>
        val r = runs((q, v))
        println(f"$q%-24s $v%10s: ${r.min}%7.2f | " +
          r.map(x => f"$x%.2f").mkString(","))
      }
    }
    spark.stop()
  }
}
