package graft.dedup

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: near-dup PAIRS (from MinHash/SimHash/
  * embedding banding) → connected components → one canonical
  * representative per cluster. This is the step that turns pairwise
  * dedup output into an actionable keep/drop list: a training-data
  * pipeline drops every member of a component except its representative.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * rewires edges toward the neighborhood minimum:
  *  - large-star: every node links its strictly-larger neighbors to the
  *    minimum of its neighborhood (including itself);
  *  - small-star: every node and its smaller neighbors all link to that
  *    minimum.
  * The fixpoint is a forest of stars whose centers are the component
  * minima, reached in O(log^2 n) rounds REGARDLESS of component
  * diameter — unlike min-label propagation, whose round count grows
  * with the longest chain in the pair graph (pathological at 100 TB:
  * a chain of borderline near-dups makes diameter, not log n, the
  * round bound).
  *
  * The rounds run on typed `RDD[(Long, Long)]` edges, not DataFrames.
  * A round is the paper's MapReduce round: one lazy lineage (neighborhood
  * minima by `reduceByKey`, partitioner-aligned hash probes, an
  * in-partition `distinct`) and ONE Spark job, which pins the round and
  * fingerprints it. The same round as a DataFrame plan costs about six
  * jobs (each AQE exchange its own job, plus the checkpoint and the
  * fingerprint) and is planned, re-planned and code-generated again
  * every round; the RDD round has no Catalyst planning, no AQE re-plan
  * and no generated class, and its shuffles of `Long` pairs take
  * Spark's built-in Kryo path for primitives instead of Java
  * serialization.
  *
  * Scale notes:
  *  - each round shuffles the edge table (bounded by the near-dup pair
  *    count, orders of magnitude smaller than the corpus) three times;
  *    nothing is collected and nothing is broadcast — the probes' build
  *    sides are one `Long` per node per partition, so a hub's edge list
  *    is never buffered;
  *  - edge counts are non-increasing round over round (stars only
  *    shrink), so the first round bounds every intermediate;
  *  - each round is `localCheckpoint`ed, which cuts its lineage, and the
  *    round before it is unpersisted once the new blocks exist: the
  *    loop holds the input pin and one round, however many rounds run
  *    (swap for `checkpoint(dir)` on a real cluster if executor loss
  *    during the loop matters);
  *  - convergence is detected by a constant-size fingerprint (edge count
  *    + XOR of edge hashes) — the driver loop carries two longs per
  *    round, no data;
  *  - a loop that reaches `maxIter` before the fixpoint throws: its
  *    labels could split a component, and they feed the keep/drop list
  *    and the leakage-safe split.
  */
object Clusters {

  /** Connected components of the undirected graph given by `edges`.
    * Returns (id, comp) with `comp` = min node id in the component, both
    * of the ids' own type (the type the two columns coerce to). Nodes
    * appearing only in self-pairs label themselves; a null id is not a
    * node. Integral ids run as they are (widened to `Long`); any other
    * orderable type — strings first of all — is numbered densely in
    * Spark SQL's own order first and mapped back at the end, so `comp`
    * is the id SQL's `min` picks.
    *
    * Eager: the star rounds run here, one Spark job each; the returned
    * frame derives the labels lazily from the last round. Throws
    * `IllegalStateException` when `maxIter` rounds end before the
    * fixpoint. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    val uv = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val idType = uv.select(col("u")).union(uv.select(col("v")))
      .schema.head.dataType
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        longFrame(spark, components(longPairs(uv, "u", "v"), maxIter),
            "id", "comp")
          .select(col("id").cast(idType), col("comp").cast(idType))
      case _ =>
        // read by the numbering and by the edge mapping below
        val pinned = uv
          .select(col("u").cast(idType).as("u"), col("v").cast(idType).as("v"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val ids = pinned.select(col("u").as("id"))
          .union(pinned.select(col("v").as("id")))
          .where(col("id").isNotNull).distinct()
        // dense numbering in SQL order: a range-partitioned sort, then
        // per-partition offsets — the min index is the SQL-min id
        val dict = spark.createDataFrame(
            ids.orderBy(col("id")).rdd.zipWithIndex()
              .map { case (r, i) => Row(r.get(0), i) },
            StructType(Seq(StructField("id", idType, nullable = false),
              StructField("ix", LongType, nullable = false))))
          .persist(StorageLevel.MEMORY_AND_DISK)
        def index(c: String) =
          dict.select(col("id").as(c), col("ix").as(s"i$c"))
        val numbered = pinned
          .join(index("u"), Seq("u"), "left")
          .join(index("v"), Seq("v"), "left")
        longFrame(spark, components(longPairs(numbered, "iu", "iv"), maxIter),
            "i", "c")
          .join(dict.select(col("ix").as("i"), col("id")), "i")
          .join(dict.select(col("ix").as("c"), col("id").as("comp")), "c")
          .select(col("id"), col("comp"))
    }
  }

  /** Columns `a` and `b` of `df` as `Long` pairs. A row with one null
    * endpoint keeps the other as a self-pair (a node with no edge); a
    * row with two nulls is dropped. */
  private def longPairs(df: DataFrame, a: String, b: String)
      : RDD[(Long, Long)] =
    df.select(col(a).cast(LongType), col(b).cast(LongType))
      .queryExecution.toRdd.flatMap { r =>
        (r.isNullAt(0), r.isNullAt(1)) match {
          case (false, false) => Some((r.getLong(0), r.getLong(1)))
          case (false, true) => Some((r.getLong(0), r.getLong(0)))
          case (true, false) => Some((r.getLong(1), r.getLong(1)))
          case _ => None
        }
      }

  /** `rows` as a frame of two non-null `Long` columns `a` and `b`. */
  private def longFrame(spark: SparkSession, rows: RDD[(Long, Long)],
                        a: String, b: String): DataFrame =
    spark.createDataFrame(rows.map { case (x, y) => Row(x, y) },
      StructType(Seq(StructField(a, LongType, nullable = false),
        StructField(b, LongType, nullable = false))))

  /** (node, component minimum) for every node of `pairs`. Between rounds
    * the edge set is held as (smaller, larger) pairs, deduplicated and
    * hash-partitioned on the smaller endpoint — the layout the next
    * round's large-star probe reads without a shuffle. */
  private def components(pairs: RDD[(Long, Long)],
                         maxIter: Int): RDD[(Long, Long)] = {
    val input = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    // the input's own partitioning (AQE-sized upstream) sets the width
    val part = new HashPartitioner(math.max(1, input.getNumPartitions))
    def settle(es: RDD[(Long, Long)]) = es.partitionBy(part).distinct()

    var e = settle(input.flatMap { case (u, v) =>
      if (u < v) Some((u, v)) else if (v < u) Some((v, u)) else None
    })
    var prev = (-1L, -1L)
    var cur = pinAndFingerprint(e)
    var iter = 0
    while (cur != prev && iter < maxIter) {
      // large-star: m(b) = min(b, b's smaller neighbors); every edge
      // (b, a) with a > b becomes the edge a–m(b), keyed here by a
      val smallerMin = e.map(_.swap).reduceByKey(part, math.min(_, _))
      val large = probeMin(e, smallerMin).map { case (_, a, mb) => (a, mb) }
      // small-star: keyed on the larger endpoint a, every small neighbor
      // mb of a and a itself link to m(a) = min of those neighbors
      val byLarge = large.partitionBy(part)
      val next = settle(
        probeMin(byLarge, byLarge.reduceByKey(part, math.min(_, _)))
          .flatMap { case (a, mb, m) =>
            if (mb == m) Iterator((m, a)) else Iterator((m, a), (m, mb))
          })
      prev = cur
      cur = pinAndFingerprint(next)
      e.unpersist(blocking = false)
      e = next
      iter += 1
    }
    if (cur != prev)
      throw new IllegalStateException(s"connectedComponents: maxIter=" +
        s"$maxIter rounds ended before the star fixpoint (last two " +
        s"fingerprints (edges, hash) $prev and $cur); its labels could " +
        "split a component")

    // fixpoint: a union of stars (center c = component min, leaf → c);
    // every input node offers itself, so self-pair-only nodes label
    // themselves and the min keeps exactly one label per node
    e.flatMap { case (c, leaf) => Iterator((leaf, c), (c, c)) }
      .union(input.flatMap { case (u, v) => Iterator((u, u), (v, v)) })
      .reduceByKey(part, math.min(_, _))
  }

  /** `rows` (k, x) with m = `mins`(k), or k itself where `mins` has no
    * entry. Both sides are hash-partitioned by the same partitioner, so
    * this is a shuffle-free hash join whose build side is one `Long` per
    * key of the partition. */
  private def probeMin(rows: RDD[(Long, Long)], mins: RDD[(Long, Long)])
      : RDD[(Long, Long, Long)] =
    rows.zipPartitions(mins) { (rs, ms) =>
      val m = mutable.LongMap.empty[Long]
      ms.foreach { case (k, v) => m.update(k, v) }
      rs.map { case (k, x) => (k, x, m.getOrElse(k, k)) }
    }

  /** Pins `e` (`localCheckpoint`) and returns its (edge count, XOR of
    * xxhash64(larger, smaller)) in the same job — equal to SQL's
    * `bit_xor(xxhash64(u, v))` over the edges with u the larger one. The edge
    * set is distinct, so a change of the same cardinality hides only by
    * a 2^-64 collision, and `maxIter` backstops even that. */
  private def pinAndFingerprint(e: RDD[(Long, Long)]): (Long, Long) = {
    e.localCheckpoint()
    e.mapPartitions { it =>
      var n = 0L
      var x = 0L
      it.foreach { case (small, large) =>
        n += 1
        x ^= XXH64.hashLong(small, XXH64.hashLong(large, 42L))
      }
      Iterator((n, x))
    }.collect().foldLeft((0L, 0L)) { case ((n, x), (pn, px)) =>
      (n + pn, x ^ px)
    }
  }

  /** (doc_id, cluster_id, cluster_size) for every doc in some near-dup
    * pair; cluster_id = min doc id in the component. The size join is
    * left to the planner (AQE broadcasts it when it is actually small
    * — one row per COMPONENT, which is unbounded at lake scale, so a
    * forced broadcast would be a driver OOM). */
  def dupClusters(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol)
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  /** Full-corpus keep/drop list — the artifact a dedup pipeline actually
    * applies to the lake. Every doc gets its cluster label (docs in no
    * near-dup pair are their own singleton cluster) and `keep` = true
    * iff the doc is the cluster's representative: highest `scoreCol`,
    * ties to the lowest id (the "keep the longest copy" rule).
    *
    * Scale: the label join is id→comp on the (small) paired subset via
    * a left join the planner can broadcast when pairs are sparse; the
    * representative pick is one row_number over cluster-sized window
    * partitions (bounded by the largest duplicate cluster, never the
    * corpus). `docs` should be pre-projected to (id, score) — document
    * payloads stay out of both the shuffle and the window sort. */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
               srcCol: String, dstCol: String, scoreCol: String): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol)
      .select(col("id").as(idCol), col("comp"))
    val labeled = docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("rk", row_number().over(w))
      .select(col(idCol), col("cluster_id"), (col("rk") === 1).as("keep"))
  }
}
