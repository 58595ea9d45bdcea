package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.shuffle.KV
import graft.sources.StandingIndex

/** Where a run's inputs live. A workload fills in its own input at full
  * size; a traced run adds small side inputs for the layers the
  * workload does not load, so every probe has something to read. */
final class Inputs {
  var teraDir: Option[String] = None
  var teraDigest: Checks.Digest = Checks.Digest.empty
  /** Fixture dirs holding `documents.parquet` / `embeddings.parquet`. */
  var docsRoot: Option[String] = None
  var embRoot: Option[String] = None
  var truth: Option[AnnTruth] = None
  var indexBuildS: Double = Double.NaN
  val sizes: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
}

/** Exact top-5 neighbours of a seeded sample of the probe queries
  * (vec_id % 5 = 0) against the whole corpus. */
final case class AnnTruth(all: Map[Long, Seq[Long]])

object AnnTruth {
  val Sample = 200

  def apply(seed: Long, vecs: Array[(Long, Array[Float], Int)]): AnnTruth = {
    val corpus = vecs.map { case (id, v, _) => Checks.vec(id, v) }
    val probes = corpus.filter(_.id % 5 == 0)
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val sample = probes.map(p => (r.nextLong(), p)).sortBy(_._1).take(Sample)
      .map(_._2)
    AnnTruth(sample.map(q => q.id -> Checks.exactTopK(q, corpus, 5)).toMap)
  }
}

abstract class Workload(val spark: SparkSession, val conf: Main.Conf) {
  val inputs = new Inputs
  protected def repDir(r: Int): String = s"${conf.work}/input/rep$r"

  /** One repeatable set-up step: writes the inputs afresh under a new
    * directory. The last repetition's inputs are used. */
  def setupRep(r: Int): Unit
  /** Set-up done once, after the repetitions (the oracle). */
  def setupOnce(): Unit = ()
  /** One pass from input to checked result; returns the problems found. */
  def pass(tracer: Option[Tracer]): Seq[String]
  /** Layer values only the workload knows, for the last traced pass. */
  def passLayers: Map[String, Double] = Map("sources.write_mb" -> 0.0)

  protected def call[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.call(name)(body))

  def ensureSideInputs(): Unit = {
    val side = s"${conf.work}/input/side"
    if (inputs.teraDir.isEmpty) {
      val dir = s"$side/tera"
      inputs.teraDigest = Gen.teraInput(spark, conf.seed, Workload.SideRecords,
        Workload.TeraFiles, dir)
      inputs.teraDir = Some(dir)
    }
    if (inputs.docsRoot.isEmpty) {
      Gen.documents(spark, conf.seed, Workload.SideDocs,
        s"$side/documents.parquet")
      inputs.docsRoot = Some(side)
    }
    if (inputs.embRoot.isEmpty) {
      val vecs = Gen.embeddingVectors(conf.seed, Workload.SideVectors)
      Gen.embeddings(spark, vecs, s"$side/embeddings.parquet")
      inputs.embRoot = Some(side)
      inputs.indexBuildS = Main.timed(StandingIndex.ensureLshBounded(spark, side))._2
      inputs.truth = Some(AnnTruth(conf.seed, vecs))
    }
  }
}

object Workload {
  val SetupReps = 3
  /** Passes run as the last step of set-up, before measuring: both
    * workloads still sped up by a quarter or more on their second pass
    * (dedup_pipeline keeps gaining a few percent per pass after it). */
  val Warmups = 2
  val TeraFiles = 8

  // Full sizes, one per workload.
  val TeraRecords = 2000000L
  val Docs = 2000

  // Side inputs of traced runs.
  val SideRecords = 100000L
  val SideDocs = 300
  val SideVectors = 2000

  def apply(name: String, spark: SparkSession, conf: Main.Conf): Workload =
    name match {
      case "terasort" => new TeraSort(spark, conf)
      case "dedup_pipeline" => new DedupPipeline(spark, conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val PerLayerUnits: Seq[(String, String)] = Seq(
    "queries.jobs" -> "count", "queries.stages" -> "count",
    "queries.tasks" -> "count", "queries.idle_s" -> "s",
    "queries.core_util" -> "ratio", "queries.gc_s" -> "s",
    "queries.pinned_mb" -> "MB",
    "sources.read_mb" -> "MB", "sources.read_records" -> "count",
    "sources.write_mb" -> "MB", "sources.read_probe_s" -> "s",
    "sources.write_probe_s" -> "s", "sources.index_build_s" -> "s",
    "shuffle.exchanges" -> "count", "shuffle.write_mb" -> "MB",
    "shuffle.write_records" -> "count", "shuffle.write_s" -> "s",
    "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "shuffle.skew" -> "ratio", "shuffle.sort_s" -> "s",
    "shuffle.sort_peak_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "shuffle.merge_probe_s" -> "s",
    "expressions.shingle_probe_s" -> "s",
    "expressions.minhash_probe_s" -> "s",
    "expressions.srp_probe_s" -> "s",
    "dedup.pairs_probe_s" -> "s", "dedup.pairs" -> "count",
    "dedup.verify_ratio" -> "ratio", "dedup.cc_probe_s" -> "s",
    "dedup.cc_jobs" -> "count",
    "similarity.lsh_probe_s" -> "s", "similarity.serve_probe_s" -> "s",
    "similarity.candidates" -> "count", "similarity.recall" -> "ratio",
    "trace.overhead_s" -> "s")
}

/** TeraSort: read uncompressed `graft-ifile`, `KV.globalSorted`, write
  * snappy `graft-ifile`, then validate the written parts. */
final class TeraSort(spark: SparkSession, conf: Main.Conf)
    extends Workload(spark, conf) {
  import spark.implicits._

  private def outDir = s"${conf.work}/output/tera"

  def setupRep(r: Int): Unit = {
    val dir = s"${repDir(r)}/tera"
    inputs.teraDigest = Gen.teraInput(spark, conf.seed, Workload.TeraRecords,
      Workload.TeraFiles, dir)
    inputs.teraDir = Some(dir)
    inputs.sizes("tera_records") = Workload.TeraRecords
    inputs.sizes("tera_bytes") = Main.dirBytes(dir)
  }

  def pass(tracer: Option[Tracer]): Seq[String] = {
    call(tracer, "sort") {
      val in = spark.read.format("graft-ifile").load(inputs.teraDir.get)
        .select(col("key").as("_1"), col("value").as("_2"))
        .as[(Array[Byte], Array[Byte])]
      KV.globalSorted(in).toDF("key", "value")
        .write.format("graft-ifile").option("compression", "snappy")
        .mode("overwrite").save(outDir)
    }
    call(tracer, "validate")(TeraSort.validate(spark, outDir, inputs.teraDigest))
  }

  override def passLayers: Map[String, Double] =
    Map("sources.write_mb" -> Main.dirBytes(outDir) / Main.MB)
}

object TeraSort {
  /** TeraValidate analog over the part files of `dir`, in file order. */
  def validate(spark: SparkSession, dir: String,
               input: Checks.Digest): Seq[String] = {
    val parts = spark.read.format("graft-ifile").load(dir).rdd
      .mapPartitionsWithIndex { (i, rows) =>
        Iterator(Checks.summarize(i,
          rows.map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))))
      }.collect()
    Checks.validateTera(parts.toSeq, input)
  }
}

/** The registered composed dedup pipeline, checked against the DuckDB
  * oracle's result digest. */
final class DedupPipeline(spark: SparkSession, conf: Main.Conf)
    extends Workload(spark, conf) {
  private val Query = "q_pipeline_report"
  private var expected = Checks.Digest.empty

  def setupRep(r: Int): Unit = {
    Gen.documents(spark, conf.seed, Workload.Docs,
      s"${repDir(r)}/documents.parquet")
    inputs.docsRoot = Some(repDir(r))
    inputs.sizes("documents") = Workload.Docs
    inputs.sizes("documents_bytes") =
      Main.dirBytes(s"${repDir(r)}/documents.parquet")
  }

  override def setupOnce(): Unit = {
    expected = Oracle.digests(spark, conf, inputs.docsRoot.get, Seq(Query))(Query)
  }

  def pass(tracer: Option[Tracer]): Seq[String] = {
    // building the frame runs the query's eager checkpoints, so the call
    // spans it as well as the collect
    val (columns, rows) = call(tracer, Query) {
      val df = SparkEntry.queries(Query)(spark, inputs.docsRoot.get)
      (df.columns.toSeq, df.collect().toSeq)
    }
    Checks.compareDigest(Query, Checks.tableDigest(columns, rows), expected)
  }
}
