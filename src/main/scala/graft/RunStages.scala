package graft

import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev utility: run one registry query with a per-stage metrics
  * listener — executor run/CPU time, shuffle bytes, spill, GC — the
  * fastest way to find WHICH exchange or join a regression lives in
  * (round 9 used this to catch a 3 100 CPU-s shuffle-write stage in
  * the triangle close). Usage: RunStages <query> <sfDir> [passes]
  *
  * With `passes` > 1 (default 1) the query runs that many times in one
  * session, and each pass prints its wall time, the Janino compiles it
  * caused (Spark's codegen compile count) and the JIT compile time the
  * JVM spent in it: a warm pass that still compiles as much as the
  * cold one reuses no generated class. */
object RunStages {
  def main(args: Array[String]): Unit = {
    val q = args(0); val d = args(1)
    val passes = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Sessions.bench()
    // per-stage max task duration (from task ends): run=cpu sums hide
    // whether a stage was 32 balanced tasks or one serialized straggler
    // — the r12 fuzzy-join find (a 31 s single-task eval stage) is
    // invisible without it
    val maxTaskMs = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = te.taskInfo.duration
          maxTaskMs.updateWith(te.stageId)(
            p => Some(math.max(p.getOrElse(0L), d)))
          ()
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          println(f"STAGE ${sc.stageInfo.stageId}%3d " +
            f"${sc.stageInfo.name.take(50)}%-50s " +
            f"tasks=${sc.stageInfo.numTasks}%4d " +
            f"maxTask=${maxTaskMs.getOrElse(sc.stageInfo.stageId, 0L) / 1e3}%6.1f s " +
            f"run=${m.executorRunTime / 1e3}%8.1f s " +
            f"cpu=${m.executorCpuTime / 1e9}%8.1f s " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
            f"spill=${m.diskBytesSpilled / 1e6}%6.1f MB " +
            f"gc=${m.jvmGCTime / 1e3}%5.1f s")
        }
      })
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val jit = ManagementFactory.getCompilationMXBean
    for (p <- 1 to passes) {
      val (t0, c0, j0) = (System.nanoTime, compiles.getCount,
        jit.getTotalCompilationTime)
      val n = SparkEntry.queries(q)(spark, d).collect().length
      println(f"TOTAL $q $d pass $p: " +
        f"wall=${(System.nanoTime - t0) / 1e9}%.1f s rows=$n " +
        s"janino_compiles=${compiles.getCount - c0} " +
        s"jit_ms=${jit.getTotalCompilationTime - j0}")
    }
    spark.stop()
  }
}
