package graft

import org.apache.spark.sql.functions._

/** Dev utility: count the bounded-ANN candidate stream at a fixture —
  * band-collision rows and distinct (qid, nid) pairs — to pin whether
  * the stream itself scales linearly in q (the design bound is
  * q · totalBands · maxBucket) independently of wall-clock noise.
  * Usage: RunAnnCount [scaleDir] */
object RunAnnCount {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/scale/sf1")
    val spark = Sessions.bench()
    import graft.similarity.Ann
    import graft.vector.VectorFunctions
    val (dim, bits, bands, numSigs, maxBucket) = (64, 64, 8, 16, 64)
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"),
        VectorFunctions.asDouble(col("embedding")).as("qv"))
    val c = e.select(col("vec_id").as("nid"),
      VectorFunctions.asDouble(col("embedding")).as("cv"))
    val qb = Ann.explodeBands(
        Ann.withSignatures(q, "qv", dim, bits, numSigs),
        numSigs, bits, bands)
      .select(col("qid"), col("bk"))
    val cb = graft.plans.GroupTopK.topKPerGroup(
      Ann.explodeBands(
          Ann.withSignatures(c, "cv", dim, bits, numSigs),
          numSigs, bits, bands)
        .select(col("nid"), col("bk")),
      groupCols = Seq(col("bk")),
      order = Seq(xxhash64(col("bk"), col("nid")).asc, col("nid").asc),
      k = maxBucket)
    val nQ = q.count(); val nC = c.count()
    val collisions = qb.join(cb.hint("shuffle_hash"), "bk")
      .filter(col("qid") =!= col("nid")).count()
    val pairs = qb.join(cb.hint("shuffle_hash"), "bk")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct().count()
    println(f"dir=$dir q=$nQ corpus=$nC collisions=$collisions " +
      f"(${collisions.toDouble / nQ}%.0f/query; bound ${bands * numSigs * maxBucket}) " +
      f"distinct_pairs=$pairs (${pairs.toDouble / nQ}%.0f/query)")
    spark.stop()
  }
}
