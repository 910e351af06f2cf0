package graft

import org.apache.spark.sql.SparkSession

/** The one session shape: every main and the test suite build their
  * SparkSession here, so `Verify` checks results under the same
  * configuration `Bench` times them under.
  */
object Sessions {

  /** Local cores for a main: `SPARK_GRAFT_CPUS` if set, else every core
    * the JVM sees.
    */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The testdata directory a main reads: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC, no UI
    * and logs at WARN (with the [[LogHygiene]] filter).
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // testdata tables are single parquet files; split them so scans use
      // all local cores (at cluster scale the default 128m is right — many
      // files supply the parallelism instead)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    LogHygiene.setLevelAndFilter(spark.sparkContext, "WARN")
    spark
  }
}
