package perfbench

import org.apache.spark.sql.Row

/** Output checks run on every pass. Each returns the list of problems
  * found; an empty list means the output is correct. */
object Checks {

  /** Order-independent multiset digest: record count plus the wrapping
    * sum of per-record 64-bit hashes. Dropping, duplicating or altering
    * a record changes it; reordering does not. */
  final case class Digest(count: Long, sum: Long) {
    def add(h: Long): Digest = Digest(count + 1, sum + h)
  }
  object Digest { val empty: Digest = Digest(0L, 0L) }

  private def fnv(h0: Long, b: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  def recordHash(key: Array[Byte], value: Array[Byte]): Long =
    Gen.mix(fnv(fnv(0xcbf29ce484222325L, key) * 31 + key.length, value))

  /** Unsigned lexicographic byte order — Spark's BinaryType order and
    * the reference's `bytes_compare`. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  // ---- terasort: TeraValidate analog ---------------------------------

  /** What one output part file holds, in file order. */
  final case class PartSummary(index: Int, digest: Digest,
                               first: Option[Array[Byte]],
                               last: Option[Array[Byte]],
                               outOfOrder: Long, malformed: Long)

  def summarize(index: Int, records: Iterator[(Array[Byte], Array[Byte])])
      : PartSummary = {
    var d = Digest.empty
    var first: Option[Array[Byte]] = None
    var prev: Array[Byte] = null
    var outOfOrder = 0L
    var malformed = 0L
    records.foreach { case (k, v) =>
      if (k == null || v == null || k.length != Gen.KeyLen ||
          v.length != Gen.ValueLen) malformed += 1
      else {
        if (prev != null && compareBytes(prev, k) > 0) outOfOrder += 1
        if (first.isEmpty) first = Some(k)
        prev = k
        d = d.add(recordHash(k, v))
      }
    }
    PartSummary(index, d, first, Option(prev), outOfOrder, malformed)
  }

  /** Keys ordered within and across parts (in part order), every record
    * decodes, and the multiset equals the input's. */
  def validateTera(parts: Seq[PartSummary], input: Digest): Seq[String] = {
    val sorted = parts.sortBy(_.index)
    val problems = Seq.newBuilder[String]
    sorted.foreach { p =>
      if (p.outOfOrder > 0)
        problems += s"part ${p.index}: ${p.outOfOrder} keys out of order"
      if (p.malformed > 0)
        problems += s"part ${p.index}: ${p.malformed} malformed records"
    }
    val nonEmpty = sorted.filter(_.first.isDefined)
    nonEmpty.zip(nonEmpty.drop(1)).foreach { case (a, b) =>
      if (compareBytes(a.last.get, b.first.get) > 0)
        problems += s"parts ${a.index}/${b.index}: boundary keys out of order"
    }
    val total = sorted.foldLeft(Digest.empty) { (acc, p) =>
      Digest(acc.count + p.digest.count, acc.sum + p.digest.sum)
    }
    if (total.count != input.count)
      problems += s"record count ${total.count} != input ${input.count}"
    else if (total.sum != input.sum)
      problems += "record checksum differs from the input's"
    problems.result()
  }

  // ---- dedup_pipeline: digest against the DuckDB oracle ---------------

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => f"$d%.6f"
    case f: Float => f"${f.toDouble}%.6f"
    case b: java.math.BigDecimal => f"${b.doubleValue}%.6f"
    case b: scala.math.BigDecimal => f"${b.toDouble}%.6f"
    case n: java.lang.Number => n.longValue.toString
    case x => x.toString
  }

  /** Digest of a result table, independent of row and column order:
    * columns are taken in name order, numbers canonicalized so a
    * DuckDB BIGINT/DOUBLE and a Spark LONG/DOUBLE of equal value agree. */
  def tableDigest(columns: Seq[String], rows: Seq[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val header = order.map(_._1).mkString(",")
    rows.foldLeft(Digest.empty) { (d, r) =>
      val line = header + "|" + order.map { case (_, i) => canon(r.get(i)) }
        .mkString("\u0001")
      d.add(recordHash(line.getBytes("UTF-8"), Array.emptyByteArray))
    }
  }

  def compareDigest(name: String, got: Digest, expected: Digest): Seq[String] =
    if (got == expected) Nil
    else Seq(s"$name: rows ${got.count} vs oracle ${expected.count}, " +
      (if (got.count == expected.count) "values differ" else "row count differs"))

  // ---- similarity: recall@k against exact cosine -----------------------

  val RecallGate = 0.85

  final case class Vec(id: Long, v: Array[Float], norm: Double)

  def vec(id: Long, v: Array[Float]): Vec =
    Vec(id, v, math.sqrt(v.map(x => x.toDouble * x).sum))

  /** Exact top-k by cosine rounded to 3 decimals, ties to the lower id,
    * self excluded — the ranking `Ann.bruteForceTopK` defines. */
  def exactTopK(q: Vec, corpus: Array[Vec], k: Int): Seq[Long] = {
    val scored = corpus.iterator.filter(_.id != q.id).map { c =>
      var dot = 0.0
      var i = 0
      while (i < c.v.length) { dot += q.v(i).toDouble * c.v(i); i += 1 }
      (dot / (q.norm * c.norm), c.id)
    }.toArray
    if (scored.isEmpty) return Nil
    // only candidates within one rounding step of the k-th best can
    // reach the rounded top k
    val kth = scored.map(_._1).sorted(Ordering[Double].reverse)
      .apply(math.min(k, scored.length) - 1)
    scored.filter(_._1 >= kth - 0.0011).map { case (cos, id) =>
      (BigDecimal(cos).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
    }.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSeq
  }

  /** Share of the exact (query, neighbor) pairs the served result holds. */
  def recall(exact: Map[Long, Seq[Long]], served: Set[(Long, Long)]): Double = {
    val want = exact.toSeq.flatMap { case (q, ns) => ns.map(q -> _) }
    if (want.isEmpty) 0.0 else want.count(served.contains).toDouble / want.size
  }

  def checkRecall(name: String, r: Double): Seq[String] =
    if (r >= RecallGate) Nil
    else Seq(f"$name: recall@5 $r%.4f below the $RecallGate gate")
}
