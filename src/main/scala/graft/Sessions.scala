package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the bench session. Bench, Verify, the dev
  * mains and the test suites all build from it, so a measured plan, a
  * verified result and a tested plan come from the same conf.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else min(32, nproc). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The bench conf on a fresh builder: `local[cpus]` with one shuffle
    * partition per core, AQE, UTC, the 64 MB broadcast threshold, the
    * [[org.apache.spark.shuffle.graft.GraftShuffleManager]] seam, the
    * measured snappy/128k codec default (SHUFFLE_TUNING.md) and no UI.
    * Callers may add settings before `getOrCreate`. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.graft.GraftShuffleManager")
      .config("spark.io.compression.codec", "snappy")
      .config("spark.io.compression.snappy.blockSize", "128k")
      .config("spark.ui.enabled", "false")

  /** The bench session at `cpus` cores, logging at WARN. */
  def bench(cpus: Int = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
