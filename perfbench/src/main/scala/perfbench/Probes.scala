package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbenchbridge.Bridge

import graft.dedup.{Clusters, Dedup}
import graft.expressions.TextExpressions
import graft.shuffle.KV
import graft.similarity.Ann
import graft.sources.StandingIndex
import graft.text.TextFunctions

import Main.noop

/** Single-module probes of a traced run: each times one public call of
  * one module on the run's inputs and reads the counts it needs from
  * that call's final adaptive plan. */
object Probes {

  private def rowsOf(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

  /** First node at or below `p` that counts its output rows. */
  private def countedRows(p: SparkPlan): Long =
    Bridge.nodes(p).map(rowsOf).find(_ >= 0).getOrElse(0L)

  /** The probe metrics, and the problems their checks found. */
  def run(spark: SparkSession, tracer: Tracer, in: Inputs,
          work: String): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    def probe(name: String)(body: => Unit): Double =
      Main.timed(tracer.call(name)(body))._2
    def lastPlanNodes: Seq[SparkPlan] = {
      tracer.drain()
      tracer.lastPlan.map(Bridge.nodes).getOrElse(Nil)
    }

    // ---- sources + shuffle over the record input ----------------------
    val tera = in.teraDir.get
    val readS = probe("read")(noop(spark.read.format("graft-ifile").load(tera)))
    val cached = spark.read.format("graft-ifile").load(tera).cache()
    cached.count()
    val writeS = probe("write")(cached.write.format("graft-ifile")
      .option("compression", "snappy").mode("overwrite")
      .save(s"$work/output/probe-write"))
    val mergeS = probe("merge")(noop(KV.globalSorted(
      cached.select(col("key").as("_1"), col("value").as("_2"))
        .as[(Array[Byte], Array[Byte])]).toDF()))
    cached.unpersist(blocking = true)

    // ---- expressions over the documents and embeddings ----------------
    val docs = spark.read.parquet(s"${in.docsRoot.get}/documents.parquet")
    val emb = spark.read.parquet(s"${in.embRoot.get}/embeddings.parquet")
    val shingleS = probe("shingle")(noop(docs
      .select(explode(TextExpressions.wordShingles(col("text"), 5)).as("g"))
      .select(xxhash64(col("g")))))
    val minhashS = probe("minhash")(noop(Dedup.minhashSignatures(
      docs.select(col("doc_id").as("id"),
        TextFunctions.shingles(col("text"), 3).as("sh")), 64)))
    val srpS = probe("srp")(noop(emb.select(
      (0 until Ann.BoundedNumSigs).map(s =>
        Ann.srpSignature(col("embedding"), Gen.Dim, 64, 42L + s)): _*)))

    // ---- dedup: pairs (verify ratio from the final plan), then CC -----
    val pairsS = probe("pairs")(noop(Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)))
    // the exact-Jaccard test — a Filter, or a join condition once the
    // optimizer pushes it down: its output is the verified pairs, its
    // (first) input the band-join candidates
    val verify = lastPlanNodes.find(p =>
      (p.nodeName == "Filter" || p.nodeName.contains("Join")) &&
        p.expressions.exists(_.toString.contains("array_intersect")))
    val verified = verify.map(rowsOf).getOrElse(0L).toDouble
    val candidates = verify.map(v => countedRows(v.children.head))
      .getOrElse(0L).toDouble
    val pairRows = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pairTable = pairRows.toDF("doc_a", "doc_b")
    val ccS = probe("cc")(noop(
      Clusters.connectedComponents(pairTable, "doc_a", "doc_b")))
    tracer.drain()
    val ccJobs = tracer.jobsOf(tracer.lastCallId).toDouble

    // ---- similarity: transient bounded LSH, then the standing serve ---
    val embRoot = in.embRoot.get
    var lshRows: Array[(Long, Long)] = Array.empty
    val lshS = probe("lsh") {
      lshRows = Ann.lshTopKBounded(emb.filter(col("vec_id") % 5 === 0), emb,
          "vec_id", "embedding", k = 5, dim = Gen.Dim)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    // pairs entering the exact re-rank: the join that attaches corpus
    // vectors (cv) to the capped candidates, before the query side
    val rerank = lastPlanNodes.filter(p => p.nodeName.contains("Join") &&
      p.output.exists(_.name == "cv") && !p.output.exists(_.name == "qv"))
      .map(rowsOf).filter(_ >= 0)
    val served = probe("serve")(StandingIndex.lshBigServe(spark, embRoot)
      .select("qid", "nid").collect())
    val recall = Checks.recall(in.truth.get.all, lshRows.toSet)

    (Map(
      "sources.read_probe_s" -> readS, "sources.write_probe_s" -> writeS,
      "shuffle.merge_probe_s" -> mergeS,
      "expressions.shingle_probe_s" -> shingleS,
      "expressions.minhash_probe_s" -> minhashS,
      "expressions.srp_probe_s" -> srpS,
      "dedup.pairs_probe_s" -> pairsS, "dedup.pairs" -> verified,
      "dedup.verify_ratio" -> (if (candidates > 0) verified / candidates else 0.0),
      "dedup.cc_probe_s" -> ccS, "dedup.cc_jobs" -> ccJobs,
      "similarity.lsh_probe_s" -> lshS, "similarity.serve_probe_s" -> served,
      "similarity.candidates" -> rerank.headOption.getOrElse(0L).toDouble,
      "similarity.recall" -> recall),
      Checks.checkRecall("Ann.lshTopKBounded", recall))
  }
}
