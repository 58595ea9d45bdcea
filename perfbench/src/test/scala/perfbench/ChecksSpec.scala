package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks must reject deliberately broken
  * outputs, and its fast oracle must agree with the registered one. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val tmp = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", new File(tmp, "local").getPath)
    .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(tmp)
  }

  private val seed = 7L
  private val records = (0L until 300L).map(Gen.teraRecord(seed, _))
    .sortWith((a, b) => Checks.compareBytes(a._1, b._1) < 0)
  private val input = records.foldLeft(Checks.Digest.empty) { case (d, (k, v)) =>
    d.add(Checks.recordHash(k, v))
  }

  private def parts(rs: Seq[(Array[Byte], Array[Byte])]) =
    rs.grouped(100).toSeq.zipWithIndex.map { case (p, i) =>
      Checks.summarize(i, p.iterator)
    }

  private def swappedAcrossBoundary = {
    val rs = records.toArray
    val t = rs(99); rs(99) = rs(100); rs(100) = t
    rs.toSeq
  }

  test("sorted parts with the input's records pass TeraValidate") {
    assert(Checks.validateTera(parts(records), input).isEmpty)
  }

  test("two keys swapped across a part boundary fail TeraValidate") {
    // each part is still sorted and the multiset is unchanged: only the
    // cross-part order check can see it
    val problems = Checks.validateTera(parts(swappedAcrossBoundary), input)
    assert(problems.exists(_.contains("boundary")), problems)
  }

  test("one dropped record fails TeraValidate") {
    val problems = Checks.validateTera(parts(records.patch(150, Nil, 1)), input)
    assert(problems.exists(_.contains("record count")), problems)
  }

  test("an altered payload or a malformed record fails TeraValidate") {
    val altered = records.updated(5, (records(5)._1, records(6)._2))
    assert(Checks.validateTera(parts(altered), input).nonEmpty)
    val short = records.updated(5, (records(5)._1, records(5)._2.take(89)))
    assert(Checks.validateTera(parts(short), input)
      .exists(_.contains("malformed")))
  }

  test("TeraValidate reads written part files in file order") {
    val schema = StructType(Seq(StructField("key", BinaryType, nullable = false),
      StructField("value", BinaryType, nullable = false)))
    def write(rs: Seq[(Array[Byte], Array[Byte])], dir: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
          rs.map { case (k, v) => Row(k, v) }, 3), schema)
        .write.format("graft-ifile").option("compression", "snappy")
        .mode("overwrite").save(dir)
    val good = new File(tmp, "tera-good").getPath
    write(records, good)
    assert(TeraSort.validate(spark, good, input).isEmpty)
    val bad = new File(tmp, "tera-bad").getPath
    write(swappedAcrossBoundary, bad)
    assert(TeraSort.validate(spark, bad, input).exists(_.contains("boundary")))
  }

  test("the table digest ignores order and types but not a dropped row") {
    val spark4 = Seq(Row("a", 1L, 0.5), Row("b", 2L, 0.25))
    val duck = Seq(Row("b", 2, 0.25), Row("a", 1, 0.5))
    val cols = Seq("k", "n", "metric")
    val expected = Checks.tableDigest(cols, duck)
    assert(Checks.compareDigest("q", Checks.tableDigest(cols, spark4), expected)
      .isEmpty)
    assert(Checks.compareDigest("q", Checks.tableDigest(cols, spark4.take(1)),
      expected).nonEmpty)
    assert(Checks.compareDigest("q",
      Checks.tableDigest(cols, Seq(Row("a", 1L, 0.5), Row("b", 2L, 0.2501))),
      expected).nonEmpty)
  }

  test("a recall below the gate fails the ANN check") {
    val exact = Map(1L -> Seq(2L, 3L, 4L, 5L, 6L), 7L -> Seq(8L, 9L, 10L, 11L, 12L))
    val all = exact.toSeq.flatMap { case (q, ns) => ns.map(q -> _) }.toSet
    assert(Checks.recall(exact, all) == 1.0)
    assert(Checks.checkRecall("q", Checks.recall(exact, all)).isEmpty)
    val missing2 = all - (1L -> 2L) - (7L -> 8L)
    assert(Checks.recall(exact, missing2) == 0.8)
    assert(Checks.checkRecall("q", Checks.recall(exact, missing2)).nonEmpty)
    assert(Checks.checkRecall("q", 0.849).nonEmpty)
  }

  test("exact top-k ranks by rounded cosine, ties to the lower id") {
    val q = Checks.vec(0L, Array(1f, 0f))
    val corpus = Array(Checks.vec(0L, Array(1f, 0f)), Checks.vec(5L, Array(1f, 0.0001f)),
      Checks.vec(3L, Array(1f, 0.0002f)), Checks.vec(9L, Array(0f, 1f)))
    assert(Checks.exactTopK(q, corpus, 2) == Seq(3L, 5L))
  }

  test("the fast oracle gives the registered oracle's results") {
    val docs = new File(tmp, "documents.parquet").getPath
    spark.createDataFrame(spark.sparkContext.parallelize(
        Gen.documentRows(seed, 120), 1), Gen.DocumentsSchema)
      .write.mode("overwrite").parquet(docs)
    val queries = Seq("q_dup_clusters", "q_pipeline_report")
    def run(name: String, registered: Boolean): Map[String, Checks.Digest] = {
      val dir = new File(tmp, name)
      dir.mkdirs()
      queries.foreach { q =>
        Files.write(new File(dir, s"$q.sql").toPath,
          graft.SparkEntry.oracleSql(q).getBytes("UTF-8"))
      }
      val cmd = Seq("python3", "oracle.py") ++
        (if (registered) Seq("--registered") else Nil) ++ Seq(docs, dir.getPath)
      assert(new ProcessBuilder(cmd: _*).inheritIO().start().waitFor() == 0)
      queries.map { q =>
        val df = spark.read.parquet(new File(dir, s"$q.parquet").getPath)
        q -> Checks.tableDigest(df.columns.toSeq, df.collect().toSeq)
      }.toMap
    }
    val fast = run("fast", registered = false)
    assert(fast("q_dup_clusters").count > 0, "corpus has no planted duplicates")
    assert(fast == run("registered", registered = true))
  }
}
