package graft

/** Dev utility: print `.explain("formatted")` for named queries under
  * the SAME session conf as graft.Bench (shuffle width, AQE, 64MB
  * broadcast threshold, graft shuffle manager), so committed plan
  * excerpts reflect the plan the bench actually runs — local[4] with
  * 4 shuffle partitions flipped join strategies vs the measured plan. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.bench()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, args.head).explain("formatted")
    }
    spark.stop()
  }
}
