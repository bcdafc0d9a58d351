package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table access for the graft engine. */
object Graft {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else the JVM's
    * available processors. */
  private[graft] def localCores(setting: Option[String], available: Int): Int =
    setting.fold(available)(_.toInt)

  private def hostCores: Int =
    localCores(sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors())

  /** The engine's only session builder: every main, spec and benchmark
    * takes its SparkSession from here, so they all run one configuration.
    * By default it runs `local[n]` with `n` shuffle partitions, `n` being
    * `SPARK_GRAFT_CPUS` or else the JVM's available processors. Settings:
    *  - ANSI off: the reference's semantics are pandas `errors='coerce'`
    *    (bad cast -> null, not exception) — see CleanFns;
    *  - AQE on (runtime coalescing + skew-join splitting at scale).
    */
  def session(appName: String = "graft", master: String = s"local[$hostCores]",
              shufflePartitions: Int = hostCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // guard-limits (maxLocalVocab-style caps sized ABOVE the expected
      // row count) never stop early, so CollectLimit's incremental ramp
      // (1 -> 4 -> 16 -> all partitions) just splits one scan into 3-4
      // sequential jobs; starting at the parallelism width makes it one
      // job and costs genuine small-limit queries nothing at this width
      .config("spark.sql.limit.initialNumPartitions", shufflePartitions)
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads one synthetic test table (TESTDATA.md) from a scale-factor dir. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
