package graft

/** Dev utility: run the bench's streaming rate/state measurement
  * standalone and print the artifact JSON body.
  * Usage: RunStreamBench [sfDir] */
object RunStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.bench()
    println(Bench.streamingMetrics(spark, sfDir, "dev")
      .map(b => s"{$b}").getOrElse("FAILED"))
    spark.stop()
  }
}
