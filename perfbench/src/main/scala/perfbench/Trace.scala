package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.perfbenchbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a benchmark call into a module, a Spark job or
  * a Spark stage. `parent` links stage → job → call; `pass` is the pass
  * it belongs to (-1 for probes). Times are epoch milliseconds. */
final case class Span(id: String, kind: String, name: String, start: Long,
                      end: Long, parent: String, pass: Int)

/** Per-stage totals folded from task ends. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var writeBytes = 0L
  var writeRecords = 0L
  var writeTimeNs = 0L
  var readBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inBytes = 0L
  var inRecords = 0L
  val readPerTask: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer[Long]()
}

/** Records spans in memory while it is attached; the benchmark attaches
  * it only for traced passes and probes and writes the spans out when
  * the run ends. Events arrive on Spark's listener thread, so the
  * benchmark drains the bus before it reads anything back. */
final class Tracer(spark: SparkSession, workload: String)
    extends SparkListener with QueryExecutionListener {

  @volatile var pass: Int = 0
  private var nextCall = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private val jobStarts = mutable.Map[Int, (Long, String, Int)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAgg = mutable.Map[Int, StageAgg]()
  /** (pass, Sort time ms, Sort peak bytes) per executed query. */
  private val sorts = mutable.ArrayBuffer[(Int, Long, Long)]()
  @volatile var lastPlan: Option[SparkPlan] = None

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    Bridge.register(spark, this)
  }

  def detach(): Unit = {
    Bridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
    Bridge.unregister(spark, this)
  }

  def drain(): Unit = Bridge.drainListenerBus(spark)

  /** Runs `body` as one call span; every job it submits is tagged
    * `workload/pass/call` and linked to the span. */
  def call[T](name: String)(body: => T): T = {
    val id = synchronized { nextCall += 1; s"call:$nextCall" }
    val sc = spark.sparkContext
    sc.setJobDescription(s"$workload/p$pass/$name#$id")
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setJobDescription(null)
      synchronized { spans += Span(id, "call", name, t0, t1, "", pass) }
    }
  }

  private def parentOf(desc: String): String =
    Option(desc).flatMap(d => d.split('#').lift(1)).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .map(_.getProperty("spark.job.description")).orNull
    jobStarts(e.jobId) = (e.time, desc, pass)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.get(e.jobId).foreach { case (t0, desc, p) =>
      spans += Span(s"job:${e.jobId}", "job", s"job ${e.jobId}", t0, e.time,
        parentOf(desc), p)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.writeBytes += m.shuffleWriteMetrics.bytesWritten
      a.writeRecords += m.shuffleWriteMetrics.recordsWritten
      a.writeTimeNs += m.shuffleWriteMetrics.writeTime
      a.readBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.readPerTask += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val job = stageJob.get(i.stageId)
      spans += Span(s"stage:${i.stageId}.${i.attemptNumber()}", "stage", i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        job.map(j => s"job:$j").getOrElse(""),
        job.flatMap(jobStarts.get).map(_._3).getOrElse(pass))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val sortNodes = Bridge.nodes(plan).filter(_.nodeName == "Sort")
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    synchronized {
      sorts += ((pass, sortNodes.map(metric(_, "sortTime")).sum,
        (0L +: sortNodes.map(metric(_, "peakMemory"))).max))
    }
    lastPlan = Some(plan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Jobs submitted by one call span. */
  def jobsOf(callId: String): Int = synchronized {
    spans.count(s => s.kind == "job" && s.parent == callId)
  }

  def lastCallId: String = synchronized { s"call:$nextCall" }

  /** Layer metrics of pass `p`, which ran from `t0` to `t1` (epoch ms). */
  def passMetrics(p: Int, t0: Long, t1: Long, cores: Int): Map[String, Double] =
    synchronized {
      val jobs = spans.filter(s => s.kind == "job" && s.pass == p)
      val stages = spans.filter(s => s.kind == "stage" && s.pass == p)
      val aggs = stages.flatMap(s =>
        stageAgg.get(s.id.stripPrefix("stage:").takeWhile(_ != '.').toInt))
      val wall = (t1 - t0) / 1e3
      // union of busy job intervals, clipped to the pass
      val busy = jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (a >= reach) (acc + (b - a), b)
          else if (b > reach) (acc + (b - reach), b)
          else (acc, reach)
        }._1 / 1e3
      val mb = 1024.0 * 1024.0
      val skew = aggs.filter(_.readBytes > 0).sortBy(-_.readBytes).headOption
        .map { a =>
          val xs = a.readPerTask.sorted
          val med = xs(xs.size / 2).toDouble
          if (med > 0) xs.last / med else xs.last.toDouble
        }.getOrElse(0.0)
      val passSorts = sorts.filter(_._1 == p)
      Map(
        "queries.jobs" -> jobs.size.toDouble,
        "queries.stages" -> stages.size.toDouble,
        "queries.tasks" -> aggs.map(_.tasks).sum.toDouble,
        "queries.idle_s" -> math.max(0.0, wall - busy),
        "queries.core_util" -> aggs.map(_.runMs).sum / 1e3 / (wall * cores),
        "sources.read_mb" -> aggs.map(_.inBytes).sum / mb,
        "sources.read_records" -> aggs.map(_.inRecords).sum.toDouble,
        "shuffle.exchanges" -> aggs.count(_.writeBytes > 0).toDouble,
        "shuffle.write_mb" -> aggs.map(_.writeBytes).sum / mb,
        "shuffle.write_records" -> aggs.map(_.writeRecords).sum.toDouble,
        "shuffle.write_s" -> aggs.map(_.writeTimeNs).sum / 1e9,
        "shuffle.read_mb" -> aggs.map(_.readBytes).sum / mb,
        "shuffle.fetch_wait_s" -> aggs.map(_.fetchWaitMs).sum / 1e3,
        "shuffle.skew" -> skew,
        "shuffle.sort_s" -> passSorts.map(_._2).sum / 1e3,
        "shuffle.sort_peak_mb" -> (0L +: passSorts.map(_._3).toSeq).max / mb,
        "shuffle.spill_mb" -> aggs.map(_.spillBytes).sum / mb)
    }

  def writeJson(path: String): Unit = synchronized {
    val body = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> Json.str(s.id), "kind" -> Json.str(s.kind),
        "name" -> Json.str(s.name), "start_ms" -> s.start.toString,
        "end_ms" -> s.end.toString, "parent" -> Json.str(s.parent),
        "pass" -> s.pass.toString))
    }.mkString("[\n", ",\n", "\n]\n")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
