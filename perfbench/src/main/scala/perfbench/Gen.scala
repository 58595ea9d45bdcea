package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives byte-identical inputs;
  * nothing here depends on the host's core count. */
object Gen {

  val KeyLen = 10
  val ValueLen = 90

  /** splitmix64 finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** TeraGen analog: record `id` as a 10-byte random key and a 90-byte
    * payload that starts with the big-endian record id. */
  def teraRecord(seed: Long, id: Long): (Array[Byte], Array[Byte]) = {
    val key = new Array[Byte](KeyLen)
    val value = new Array[Byte](ValueLen)
    var s = mix(seed * 0x9e3779b97f4a7c15L + id)
    def next(): Long = { s = mix(s + 0x9e3779b97f4a7c15L); s }
    val k0 = next(); val k1 = next()
    var i = 0
    while (i < 8) { key(i) = (k0 >>> (56 - 8 * i)).toByte; i += 1 }
    key(8) = (k1 >>> 56).toByte; key(9) = (k1 >>> 48).toByte
    i = 0
    while (i < 8) { value(i) = (id >>> (56 - 8 * i)).toByte; i += 1 }
    while (i < ValueLen) {
      val w = next()
      var j = 0
      while (j < 8 && i < ValueLen) {
        // printable filler, as TeraGen writes
        value(i) = ('A' + ((w >>> (8 * j)) & 0xff) % 26).toByte
        i += 1; j += 1
      }
    }
    (key, value)
  }

  /** Writes `n` records as uncompressed `graft-ifile` (with `.idx`
    * sidecars) and returns the input's order-independent digest. */
  def teraInput(spark: SparkSession, seed: Long, n: Long, files: Int,
                dir: String): Checks.Digest = {
    import spark.implicits._
    val recs = spark.range(0, n, 1, files)
      .map(id => teraRecord(seed, id.longValue))
      .toDF("key", "value")
    recs.write.format("graft-ifile").mode("overwrite").save(dir)
    spark.range(0, n, 1, files).mapPartitions { ids =>
      var d = Checks.Digest.empty
      ids.foreach { id =>
        val (k, v) = teraRecord(seed, id.longValue)
        d = d.add(Checks.recordHash(k, v))
      }
      Iterator((d.count, d.sum))
    }.collect().foldLeft(Checks.Digest.empty) { case (a, (c, s)) =>
      Checks.Digest(a.count + c, a.sum + s)
    }
  }

  // ---- documents ------------------------------------------------------

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Sources = 12

  /** A corpus with the `documents` schema: tokens drawn uniformly from
    * an 8 000-word vocabulary, plus planted clusters — exact copies and
    * one-token edits (3-shingle Jaccard ≥ 0.9) of original documents.
    * Copies are made of originals only, so every cluster is a star and
    * the connected-components work does not swing with the seed. */
  def documentRows(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed)
    def word(): String = "w" + Integer.toString(r.nextInt(8000), 36)
    val texts = new Array[Array[String]](n)
    val originals = mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < n) {
      val pick = r.nextInt(100)
      val src = if (originals.isEmpty) null else texts(originals(r.nextInt(originals.size)))
      if (src != null && pick < 8) texts(i) = src // exact copy
      else if (src != null && pick < 16 && src.length >= 70) {
        val edited = src.clone()
        edited(r.nextInt(src.length)) = word()
        texts(i) = edited
      } else {
        texts(i) = Array.fill(30 + r.nextInt(120))(word())
        originals += i
      }
      i += 1
    }
    // scatter the planted copies over the id space
    val order = (0 until n).toArray
    var j = n - 1
    while (j > 0) {
      val k = r.nextInt(j + 1)
      val t = order(j); order(j) = order(k); order(k) = t
      j -= 1
    }
    order.indices.map { id =>
      val text = texts(order(id)).mkString(" ")
      Row(id.toLong, text, Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(Sources)}", text.length.toLong)
    }
  }

  def documents(spark: SparkSession, seed: Long, n: Int, dir: String): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(documentRows(seed, n), 1),
        DocumentsSchema)
      .write.mode("overwrite").parquet(dir)

  // ---- embeddings -----------------------------------------------------

  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val Dim = 64
  val Labels = 16

  /** The per-label cluster means and spreads. They are part of the
    * workload's definition, not of the seed: a seed draws a sample from
    * one fixed distribution, so the LSH bucket sizes — and the work a
    * pass does — do not swing from seed to seed. */
  private lazy val clusters: (Array[Array[Double]], Array[Array[Double]]) = {
    val r = new SplittableRandom(0x0c1a55e5L)
    (Array.fill(Labels, Dim)(r.nextDouble() * 2 - 1),
      Array.fill(Labels, Dim)(0.3 + 0.5 * r.nextDouble()))
  }

  /** `n` vectors drawn from per-label Gaussian clusters, plus about 3 %
    * planted twins (source + 1 % noise, ids from `n` up). */
  def embeddingVectors(seed: Long, n: Int): Array[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed)
    def gauss(): Double = {
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val (means, sds) = clusters
    val base = Array.tabulate(n) { id =>
      val l = r.nextInt(Labels)
      (id.toLong, Array.tabulate(Dim)(d =>
        (means(l)(d) + sds(l)(d) * gauss()).toFloat), l)
    }
    val twins = base.filter(_ => r.nextInt(100) < 3).zipWithIndex.map {
      case ((_, v, l), i) =>
        ((n + i).toLong,
          v.map(x => (x + (r.nextDouble() * 2 - 1) * 0.01).toFloat), l)
    }
    base ++ twins
  }

  def embeddings(spark: SparkSession, vecs: Array[(Long, Array[Float], Int)],
                 dir: String): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          vecs.toSeq.map { case (id, v, l) => Row(id, v.toSeq, l) }, 1),
        EmbeddingsSchema)
      .write.mode("overwrite").parquet(dir)
}
