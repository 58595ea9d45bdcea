package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.min
import org.apache.spark.sql.types.IntegerType

import graft.dedup.{Clusters, Dedup}

/** Connected-components clustering over near-dup pairs. */
class ClustersSpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("multi-hop chain collapses to one component") {
    // path graph 1-2-3-...-10 plus an isolated pair: needs label
    // propagation across 9 hops, not just clique shortcuts
    val edges = ((1L to 9L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a", "b")
    val cc = Clusters.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach(i => assert(cc(i) == 1L, s"node $i got ${cc(i)}"))
    assert(cc(100L) == 100L && cc(101L) == 100L)
  }

  test("components match driver-side union-find on fixture minhash pairs") {
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sfDir),
      "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 16,
      threshold = 0.9)
    val edges = pairs.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty, "fixture produced no near-dup pairs")
    val want = unionFind(edges)
    val got = Clusters.connectedComponents(
      pairs.toDF(), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("string ids cluster too (no silent numeric cast)") {
    val edges = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c"), ("x", "y"))
      .toDF("a", "b")
    val cc = Clusters.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "x" -> "x", "y" -> "x"), cc.toString)
  }

  /** Labels as a map, for Long ids. */
  private def labels(edges: Seq[(Long, Long)], maxIter: Int = 25)
      : Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The smallest `maxIter` that reaches the fixpoint on `edges`. */
  private def roundsToConverge(edges: Seq[(Long, Long)]): Int =
    (1 to 25).find(k => scala.util.Try(labels(edges, k)).isSuccess)
      .getOrElse(fail("no maxIter up to 25 converged"))

  /** A path over 200 shuffled ids: its diameter needs many star rounds. */
  private val path200: Seq[(Long, Long)] = {
    val ids = new scala.util.Random(7).shuffle((1L to 200L).map(_ * 13))
    ids.zip(ids.tail)
  }

  test("one label per node even when maxIter stops before the fixpoint") {
    // a 12-node path: the smallest converging maxIter gives union-find's
    // labels, one per node; one round less stops before the fixpoint
    // and throws rather than return labels that could split a component
    val edges = (1L to 11L).map(i => (i, i + 1))
    val k = roundsToConverge(edges)
    assert(k >= 2, s"a 12-node path converged in $k round(s)")
    val cc = Clusters.connectedComponents(edges.toDF("a", "b"), "a", "b", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.map(_._1).distinct.length == cc.length,
      s"duplicate node labels: ${cc.mkString(",")}")
    assert(cc.map(_._1).toSet == (1L to 12L).toSet)
    assert(cc.toMap == unionFind(edges))
    val e = intercept[IllegalStateException](labels(edges, k - 1))
    assert(e.getMessage.contains(s"maxIter=${k - 1}"), e.getMessage)
  }

  test("seeded graphs match driver-side union-find") {
    val rnd = new scala.util.Random(11)
    val star = rnd.shuffle((1L to 501L).toVector)
    val center = star(250)
    val graphs = Seq(
      "200-node path" -> path200,
      "500-leaf star" -> star.filter(_ != center).map(l =>
        if (rnd.nextBoolean()) (center, l) else (l, center)),
      "isolated self-pairs" ->
        (Seq((5L, 5L), (9L, 9L), (3L, 4L), (4L, 4L)) ++
          (1 to 50).map(_ =>
            (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))),
      "duplicate and reversed edges" -> {
        val base = (1 to 300).map(_ =>
          (rnd.nextInt(400).toLong + 1000, rnd.nextInt(400).toLong + 1000))
        rnd.shuffle(base ++ base.map(_.swap) ++ base.take(100))
      })
    for ((name, edges) <- graphs)
      assert(labels(edges) == unionFind(edges), name)
  }

  test("string ids take SQL's order, not String.compareTo") {
    // U+FFFF sorts after U+1F600 in UTF-16 code units but before it in
    // UTF-8 bytes, which is Spark SQL's string order
    val (bmp, emoji) = ("\uFFFF", "\uD83D\uDE00")
    assert(bmp.compareTo(emoji) > 0)
    val sqlMin = Seq(bmp, emoji).toDF("s").agg(min("s")).head().getString(0)
    assert(sqlMin == bmp)
    val cc = Clusters.connectedComponents(
        Seq((emoji, bmp), ("b", "a")).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map(bmp -> sqlMin, emoji -> sqlMin, "a" -> "a", "b" -> "a"),
      cc.toString)
  }

  test("IntegerType ids come back as IntegerType") {
    val cc = Clusters.connectedComponents(
      Seq((3, 1), (1, 2), (7, 8)).toDF("a", "b"), "a", "b")
    assert(cc.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(cc.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
  }

  test("one Spark job per star round plus a small constant") {
    val rounds = roundsToConverge(path200)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(counter)
    try labels(path200)
    finally { ListenerBus.drain(sc); sc.removeSparkListener(counter) }
    // one pinning job per round, the input round, and the result collect
    assert(jobs.get <= rounds + 3, s"${jobs.get} jobs for $rounds rounds")
  }

  test("the loop leaves only the input pin and the last round persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(labels(path200) == unionFind(path200))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 2, s"persisted after the loop: $added")
  }

  test("dupClusters sizes are consistent") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val rows = Clusters.dupClusters(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("keepBest keeps the highest-score member; singletons keep themselves") {
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (10L, 7L), (11L, 3L),
      (99L, 1L)).toDF("doc_id", "score")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val rows = Clusters.keepBest(docs, "doc_id", edges, "a", "b", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // cluster {1,2,3}: 2 and 3 tie on score 50 -> lower id 2 wins;
    // cluster {10,11}: 10 wins on score; 99 is a singleton keeper
    assert(rows == Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false), (99L, 99L, true)))
  }

  test("keepBest emits exactly one keeper per cluster on fixture pairs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val kb = Clusters.keepBest(docs.select(col("doc_id"), col("n_chars")),
      "doc_id", Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9),
      "doc_a", "doc_b", "n_chars")
    assert(kb.count() == docs.count(), "every doc must be labeled")
    val perCluster = kb.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(perCluster.filter(col("keepers") =!= 1).count() == 0)
  }
}
