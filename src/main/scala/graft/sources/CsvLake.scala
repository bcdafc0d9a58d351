package graft.sources

import graft.functions.CleanFns
import graft.operators.Conform
import org.apache.hadoop.fs.Path
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
  * million CSVs is read with full task parallelism.
  * Name predicates match the file name only, like the reference's globs:
  * a directory on the way (`catalog/`, `holdings_history/`) never
  * filters a file out.
  *
  * The per-ticker feeds (history, dividends, holdings, allocations) and
  * the screeners are listed on the driver ([[listRecursive]],
  * [[listFlat]]) and read from an explicit file list ([[readFiles]]):
  * the daily stages that load them read only the files whose content
  * changed since their last commit (`graft.stages.Sync.changedOnly`),
  * so the listing is a separate step from the read. Master lists and
  * NAV files are read whole, by directory.
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

  /** A name Spark's file listing skips, with everything under it. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** S3 listing, on the driver: every `*.csv` file under `root`, at any
    * depth, whose file name (lower-cased) contains `nameMustContain` and
    * not `nameMustNotContain`, sorted by path. Hidden entries are skipped
    * as Spark's listing skips them. */
  def listRecursive(spark: SparkSession, root: String, nameMustContain: String = "",
                    nameMustNotContain: String = ""): Seq[Path] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Iterator[Path] = fs.listStatus(d).iterator
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) walk(s.getPath) else Iterator(s.getPath))
    walk(dir).filter { p =>
      val name = p.getName.toLowerCase(java.util.Locale.ROOT)
      p.getName.endsWith(".csv") && name.contains(nameMustContain) &&
        (nameMustNotContain.isEmpty || !name.contains(nameMustNotContain))
    }.toSeq.sortBy(_.toString)
  }

  /** S1 listing, on the driver: the visible files directly in `dir`,
    * sorted by path — what a read of the directory itself reads. */
  def listFlat(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(s => s.isFile && !hidden(s.getPath.getName)).map(_.getPath).sortBy(_.toString)
  }

  /** Reads exactly `files` (at least one) with normalized headers and
    * `origin_file` lineage as the file's full URI. Glob characters in a
    * name are escaped: a path here names one file, never a pattern. */
  def readFiles(spark: SparkSession, files: Seq[Path]): DataFrame =
    Conform.normHeaders(base(spark).csv(
        files.map(_.toString.replaceAll("""([\\\[\]{}*?])""", """\\$1""")): _*))
      .withColumn("origin_file", input_file_name())

  /** S3: [[listRecursive]], then [[readFiles]]. `origin_file` keeps the
    * full URI: [[withPathIdentity]] parses directories too. */
  def readRecursive(spark: SparkSession, root: String,
                    nameMustContain: String = "", nameMustNotContain: String = ""): DataFrame =
    readFiles(spark, listRecursive(spark, root, nameMustContain, nameMustNotContain))

  /** S4: inject (ticker, asset_type, as_of_date) identity parsed from the
    * file path — the reference's filename-stem / path-segment conventions. */
  def withPathIdentity(df: DataFrame): DataFrame =
    df.withColumn("ticker", CleanFns.tickerFromPath(col("origin_file")))
      .withColumn("asset_type", CleanFns.assetTypeFromPath(col("origin_file")))
      .withColumn("as_of_date", CleanFns.dateFromPath(col("origin_file")))
}
