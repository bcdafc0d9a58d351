package graft.sources

import graft.functions.CleanFns
import graft.operators.Conform
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-lake scan operators (SURVEY.md §2.1 S1–S5): lineage-tagged CSV
  * readers replacing the reference's glob-walk + pd.read_csv loops.
  *
  *  - S1 single staged file       (00_master_list_cleaner.py:113)
  *  - S2 multi-dir glob + union w/ source tag (00_performance_data_cleaner.py:45-89)
  *  - S3 recursive glob w/ filename predicate (00_price_history_cleaner.py:77-83)
  *  - S4 identity-from-path       (00_price_history_cleaner.py:36-68)
  *  - S5 BOM-tolerant read        (00_holdings_data_cleaner.py:183)
  *
  * All readers attach `origin_file` lineage via input_file_name() — one
  * distributed scan replaces the per-file Python loop, so a directory of a
  * million CSVs is read with full task parallelism and no driver iteration.
  * Name predicates match the file name only, like the reference's globs:
  * a directory on the way (`catalog/`, `holdings_history/`) never
  * filters a file out.
  */
object CsvLake {

  private def base(spark: SparkSession) =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")          // S5: Spark strips the BOM
      .option("nullValue", "")
      .option("mode", "PERMISSIVE")

  /** S1: read one staged CSV with normalized headers + lineage. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    Conform.normHeaders(base(spark).csv(path))
      .withColumn("origin_file", input_file_name())

  /** The last path segment of a file URI. */
  private def fileName(uri: Column): Column = substring_index(uri, "/", -1)

  /** S2: read N per-source directories, tag `source` from the directory
    * name, align schemas by name (missing columns -> null), union. Skips
    * error/log files like the reference's glob filter. Each directory is
    * read flat and is its source's only one, so `origin_file` is the file
    * name: (`source`, `origin_file`) still names the file. */
  def readSourceDirs(spark: SparkSession, dirsBySource: Iterable[(String, String)]): DataFrame =
    dirsBySource.map { case (source, dir) =>
      Conform.normHeaders(
          base(spark).option("pathGlobFilter", "*.csv").csv(dir))
        .withColumn("origin_file", fileName(input_file_name()))
        .filter(!lower(col("origin_file")).rlike("error|log"))
        .withColumn("source", lit(source))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** S3: recursive scan with a filename predicate pushed to the listing
    * (pathGlobFilter) plus a post-filter on the file name. `origin_file`
    * keeps the full URI: [[withPathIdentity]] parses directories too. */
  def readRecursive(spark: SparkSession, root: String,
                    nameMustContain: String = "", nameMustNotContain: String = ""): DataFrame = {
    var df = Conform.normHeaders(
        base(spark)
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.csv")
          .csv(root))
      .withColumn("origin_file", input_file_name())
    if (nameMustContain.nonEmpty)
      df = df.filter(lower(fileName(col("origin_file"))).contains(nameMustContain))
    if (nameMustNotContain.nonEmpty)
      df = df.filter(!lower(fileName(col("origin_file"))).contains(nameMustNotContain))
    df
  }

  /** S4: inject (ticker, asset_type, as_of_date) identity parsed from the
    * file path — the reference's filename-stem / path-segment conventions. */
  def withPathIdentity(df: DataFrame): DataFrame =
    df.withColumn("ticker", CleanFns.tickerFromPath(col("origin_file")))
      .withColumn("asset_type", CleanFns.assetTypeFromPath(col("origin_file")))
      .withColumn("as_of_date", CleanFns.dateFromPath(col("origin_file")))
}
