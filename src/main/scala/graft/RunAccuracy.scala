package graft

/** Dev utility: print the accuracy-check JSON for a fixture dir
  * (the same artifact Verify writes as accuracy.json). */
object RunAccuracy {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.bench()
    println(Accuracy.toJson(Accuracy.checks(spark, sfDir)))
    spark.stop()
  }
}
