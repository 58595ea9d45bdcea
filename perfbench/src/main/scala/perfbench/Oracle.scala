package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Evaluates the registered DuckDB oracle SQL of each query over the
  * run's documents corpus (through `oracle.py`) and digests the result
  * the same way a pass digests Spark's. */
object Oracle {
  def digests(spark: SparkSession, conf: Main.Conf, root: String,
              queries: Seq[String]): Map[String, Checks.Digest] = {
    val dir = new File(s"${conf.work}/oracle")
    dir.mkdirs()
    queries.foreach { q =>
      Files.write(new File(dir, s"$q.sql").toPath,
        SparkEntry.oracleSql(q).getBytes("UTF-8"))
    }
    val proc = new ProcessBuilder("python3", conf.oracle,
        s"$root/documents.parquet", dir.getPath)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val code = proc.waitFor()
    if (code != 0) sys.error(s"oracle.py exited with $code")
    queries.map { q =>
      val df = spark.read.parquet(new File(dir, s"$q.parquet").getPath)
      q -> Checks.tableDigest(df.columns.toSeq, df.collect().toSeq)
    }.toMap
  }
}
