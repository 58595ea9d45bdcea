package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark driver: one JVM runs one workload for one seed.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --out FILE --oracle FILE
  *
  * All inputs, shuffle files, indexes and outputs go under `--work`;
  * the result (metrics, check outcomes, input sizes) goes to `--out` as
  * one JSON object, and with `--trace 1` the spans go next to it. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        oracle: String)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Conf(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--out"), need("--oracle"))
  }

  /** The `graft.Bench` session: local[nproc], shuffle partitions =
    * nproc, AQE on, the GraftShuffleManager seam, snappy/128k. Scratch
    * and catalog directories live under the run's own work dir. Status
    * retention is capped so the retained-memory reading does not grow
    * with the number of passes a run manages. */
  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.graft.GraftShuffleManager")
      .config("spark.io.compression.codec", "snappy")
      .config("spark.io.compression.snappy.blockSize", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = cpuBean.getProcessCpuTime / 1e9
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  def now: Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, now - t0)
  }

  val MB: Double = 1024.0 * 1024.0

  /** RDD blocks the block manager holds (cached and checkpointed), MB. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / MB

  /** Live heap after a full collection plus on-disk RDD blocks, MB:
    * what the engine still holds once a pass has finished. */
  def retainedMb(spark: SparkSession): Double = {
    // the second collection frees what the first one handed to Spark's
    // reference-driven cleaner
    System.gc()
    Thread.sleep(100)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (heap + spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum) / MB
  }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(path))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class Pass(traced: Boolean, wall: Double,
                        cpu: Double, problems: Seq[String], retained: Double,
                        layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = timed(session(conf.work, cores))
    val w = Workload(conf.workload, spark, conf)
    val tracer = new Tracer(spark, conf.workload)

    // ---- set-up: repeated steps timed several times, median kept ------
    val repTimes = (0 until Workload.SetupReps).map { r =>
      timed(w.setupRep(r))._2
    }
    val (_, onceS) = timed {
      w.setupOnce()
      if (conf.trace) w.ensureSideInputs()
    }
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    def runPass(traced: Boolean): Pass = {
      val i = passes.size
      tracer.pass = i
      if (traced) tracer.attach()
      val gc0 = gcSeconds
      val c0 = cpuSeconds
      val t0 = now
      val wallMs0 = System.currentTimeMillis()
      val problems =
        try w.pass(if (traced) Some(tracer) else None)
        catch { case e: Exception => Seq(s"pass failed: $e") }
      val wall = now - t0
      val cpu = cpuSeconds - c0
      val gc = gcSeconds - gc0
      val wallMs1 = System.currentTimeMillis()
      val layers =
        if (traced) {
          tracer.detach()
          tracer.passMetrics(i, wallMs0, wallMs1, cores) ++ Map(
            "queries.gc_s" -> gc, "queries.pinned_mb" -> pinnedMb(spark)) ++
            w.passLayers
        } else Map.empty[String, Double]
      val p = Pass(traced, wall, cpu, problems, retainedMb(spark), layers)
      if (problems.nonEmpty)
        System.err.println(s"[perfbench] pass $i: ${problems.mkString("; ")}")
      passes += p
      p
    }
    val warmS = (1 to Workload.Warmups).map(_ => runPass(traced = false).wall).sum
    val setupS = sessionS + median(repTimes) + onceS + warmS

    // ---- measured passes ----------------------------------------------
    // at least two, so a slow window cannot leave a single pass (taken
    // earlier in the warm-up curve) as the run's median. In a traced run
    // traced and untraced passes alternate, traced first, so the tracing
    // overhead is read under the same conditions and any warming across
    // passes counts against tracing.
    val start = now
    var n = 0
    while (n < 2 || now - start < conf.seconds) {
      runPass(traced = conf.trace && n % 2 == 0); n += 1
    }
    val measured = passes.drop(Workload.Warmups).toSeq
    var probeProblems = Seq.empty[String]

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(measured.map(_.wall)), "s"),
        ("cpu_s", median(measured.map(_.cpu)), "s"),
        ("retained_mb", median(measured.map(_.retained)), "MB"))
      else {
        val traced = measured.filter(_.traced)
        val plain = measured.filterNot(_.traced)
        val passLayers = traced.head.layers.keys.toSeq.map { k =>
          k -> median(traced.map(_.layers(k)))
        }.toMap
        tracer.pass = -1
        tracer.attach()
        val (probes, problems) = Probes.run(spark, tracer, w.inputs, conf.work)
        tracer.detach()
        probeProblems = problems
        val all = passLayers ++ probes ++ Map(
          "sources.index_build_s" -> w.inputs.indexBuildS,
          "trace.overhead_s" ->
            (median(traced.map(_.wall)) - median(plain.map(_.wall))))
        Workload.PerLayerUnits.map { case (k, u) =>
          (k, all.getOrElse(k, Double.NaN), u)
        }
      }
    val spansFile = conf.out.stripSuffix(".json") + ".spans.json"
    if (conf.trace) tracer.writeJson(spansFile)

    // a traced run's probe set counts as one more attempt
    val attempted = passes.size + (if (conf.trace) 1 else 0)
    val failed = passes.count(_.problems.nonEmpty) +
      (if (probeProblems.nonEmpty) 1 else 0)
    if (probeProblems.nonEmpty)
      System.err.println(s"[perfbench] probes: ${probeProblems.mkString("; ")}")
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_frac" -> Json.num(failed.toDouble / attempted),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "setup" -> Json.obj(Seq(
        "session_s" -> Json.num(sessionS),
        "rep_s" -> repTimes.map(Json.num).mkString("[", ", ", "]"),
        "once_s" -> Json.num(onceS), "warmup_s" -> Json.num(warmS))),
      "inputs" -> Json.obj(w.inputs.sizes.toSeq.map { case (k, v) =>
        k -> v.toString }),
      "passes" -> passes.map { p =>
        Json.obj(Seq("traced" -> p.traced.toString,
          "wall_s" -> Json.num(p.wall), "cpu_s" -> Json.num(p.cpu),
          "retained_mb" -> Json.num(p.retained),
          "problems" -> p.problems.map(Json.str).mkString("[", ", ", "]")))
      }.mkString("[", ", ", "]"),
      "probe_problems" -> probeProblems.map(Json.str).mkString("[", ", ", "]"),
      "spans" -> Json.str(if (conf.trace) spansFile else "")))
    java.nio.file.Files.write(new File(conf.out).toPath,
      (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
