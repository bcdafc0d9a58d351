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
    *  - AQE on (runtime coalescing + skew-join splitting at scale);
    *  - a codegen cache of 256 classes (`spark.sql.codegen.cache.maxEntries`,
    *    static; Spark's default is 100). The pipelines re-run the same plans
    *    (a daily day, a corpus batch, a micro-batch), but Spark keys the
    *    cache by (thread context classloader, source), so a whole-stage
    *    class compiled on the driver and again in a task takes two entries.
    *    One `CorpusPipeline` or `DailyPipeline` run needs ~190 entries, so
    *    at 100 the LRU evicted every class before its next use and each run
    *    compiled 185–207 Janino classes again; at 256 a repeated corpus run
    *    compiles 0–65 of them. The cache is four LRU segments of cap/4, and
    *    at 256 one segment can still overflow (the 0–65 spread); 384 closes
    *    that gap but each entry holds ≈26 KiB (bytecode, source, loader
    *    locks), and 384 put `daily_load`'s live heap 4.5% up, 512 7% up;
    *  - a status store that keeps 10 jobs, 10 stages, 10 SQL executions
    *    and 100 tasks (`spark.ui.retainedJobs`, `spark.ui.retainedStages`,
    *    `spark.sql.ui.retainedExecutions`, `spark.ui.retainedTasks`;
    *    defaults 1000/1000/1000/100 000). The UI is off, nothing in the
    *    engine reads that store, and the specs ask it only for live jobs or
    *    the latest ones. The heap it frees pays for the larger codegen
    *    cache: at equal unit counts `daily_load`'s live heap reads within
    *    ±1.5% of what it read with the default cache and store.
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
      .config("spark.sql.codegen.cache.maxEntries", 256)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", 10)
      .config("spark.ui.retainedStages", 10)
      .config("spark.ui.retainedTasks", 100)
      .config("spark.sql.ui.retainedExecutions", 10)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads one synthetic test table (TESTDATA.md) from a scale-factor dir. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
