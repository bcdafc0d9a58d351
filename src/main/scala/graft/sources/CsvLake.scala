package graft.sources

import graft.functions.CleanFns
import graft.operators.Conform
import graft.util.ArtifactIO
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** File-lake scan operators (SURVEY.md §2.1 S1–S5): lineage-tagged CSV
  * readers replacing the reference's glob-walk + pd.read_csv loops.
  *
  *  - S1 single staged file       (00_master_list_cleaner.py:113)
  *  - S2 multi-dir glob + union w/ source tag (00_performance_data_cleaner.py:45-89)
  *  - S3 recursive glob w/ filename predicate (00_price_history_cleaner.py:77-83)
  *  - S4 identity-from-path       (00_price_history_cleaner.py:36-68)
  *  - S5 BOM-tolerant read        (00_holdings_data_cleaner.py:183)
  *
  * Every read lists its files on the driver and binds each file's
  * columns by that file's own header, as pd.read_csv does per file. The
  * header (first non-blank line, BOM stripped) is read on the driver and
  * parsed with Spark's own CSV parser settings; blank and duplicate names
  * get Spark's safe names (`_c<i>`, name plus index). The files are then
  * grouped by header and each group is read with an explicit all-string
  * schema of its names: no schema-inference job runs, and two files with
  * swapped columns come back by name, where a plain multi-file read binds
  * every file by position to the first file's header. A 0-byte file has
  * no header and is skipped; a read with no file left fails naming what
  * it read.
  *
  * Each header group is handed to the caller's `conform` on its own, and
  * the conformed groups are unioned by name: a per-file decision (does
  * this file carry `ticker`?) is made per header, and a rename (`price`
  * -> `nav_price`) cannot collide with a file that already has the
  * target name. Each group is one distributed scan with `origin_file`
  * lineage via input_file_name().
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

  private val Options = Map("header" -> "true", "encoding" -> "UTF-8",
    "nullValue" -> "", "mode" -> "PERMISSIVE")

  /** A file's first non-blank line with any BOM stripped; None for a
    * file with no such line (0 bytes, or blank lines only). */
  private def headerLine(conf: Configuration, file: Path): Option[String] = {
    val in = new BufferedReader(new InputStreamReader(
      file.getFileSystem(conf).open(file), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(_.stripPrefix("\uFEFF")).find(_.trim.nonEmpty)
    finally in.close()
  }

  /** `files` bound by header (see above): one all-string scan per
    * distinct header, in the order of each header's first file, with
    * normalized headers and `origin_file` lineage as the file's URI, each
    * passed through `conform`. Empty when no file has a header. */
  private def scans(spark: SparkSession, files: Seq[Path],
                    conform: DataFrame => DataFrame): Seq[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sql = spark.sessionState.conf
    val opts = new CSVOptions(Options, columnPruning = true, sql.sessionLocalTimeZone)
    val parser = new CsvParser(opts.asParserSettings)
    val headed = files.flatMap(f => headerLine(conf, f).map { line =>
      CSVUtils.makeSafeHeader(parser.parseLine(line), sql.caseSensitiveAnalysis, opts)
        .toSeq -> f
    })
    headed.map(_._1).distinct.map { names =>
      val group = headed.collect { case (`names`, f) =>
        f.toString.replaceAll("""([\\\[\]{}*?])""", """\\$1""")
      }
      conform(Conform.normHeaders(spark.read.options(Options)
          .schema(StructType(names.map(StructField(_, StringType))))
          .csv(group: _*))
        .withColumn("origin_file", input_file_name()))
    }
  }

  /** The scans unioned by name; `what` names the read when there is none. */
  private def union(scans: Seq[DataFrame], what: => String): DataFrame = {
    require(scans.nonEmpty, s"no CSV file with a header in $what")
    scans.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S1: read one staged CSV, or the visible files of a dir, with
    * normalized headers + lineage, each header group through `conform`. */
  def readCsv(spark: SparkSession, path: String,
              conform: DataFrame => DataFrame = identity): DataFrame =
    union(scans(spark, listFlat(spark, path), conform), path)

  /** S2: read N per-source directories, tag `source` from the directory
    * name, align schemas by name (missing columns -> null), union. Skips
    * error/log files in the listing, like the reference's glob filter:
    * they are never opened, and a dir holding only such files (a day
    * whose scrape failed) or only 0-byte files adds no rows; some dir
    * must hold a file with a header. Each directory is read flat and is
    * its source's only one, so `origin_file` is the file name: (`source`,
    * `origin_file`) still names the file. `conform` sees each header
    * group with both set. */
  def readSourceDirs(spark: SparkSession, dirsBySource: Iterable[(String, String)],
                     conform: DataFrame => DataFrame = identity): DataFrame =
    union(dirsBySource.toSeq.flatMap { case (source, dir) =>
      val files = listFlat(spark, dir).filter { p =>
        p.getName.endsWith(".csv") &&
          !p.getName.toLowerCase(java.util.Locale.ROOT).matches(".*(error|log).*")
      }
      scans(spark, files, df => conform(df
        .withColumn("origin_file", substring_index(col("origin_file"), "/", -1))
        .withColumn("source", lit(source))))
    }, dirsBySource.map(_._2).mkString("[", ", ", "]"))

  /** S3 listing, on the driver: every `*.csv` file under `root`, at any
    * depth, whose file name (lower-cased) contains `nameMustContain` and
    * not `nameMustNotContain`, sorted by path. Hidden entries are skipped
    * as Spark's listing skips them. */
  def listRecursive(spark: SparkSession, root: String, nameMustContain: String = "",
                    nameMustNotContain: String = ""): Seq[Path] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Iterator[Path] = fs.listStatus(d).iterator
      .filterNot(s => ArtifactIO.hidden(s.getPath.getName))
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
      .filter(s => s.isFile && !ArtifactIO.hidden(s.getPath.getName))
      .map(_.getPath).sortBy(_.toString)
  }

  /** Reads exactly `files` (at least one with a header), bound by
    * header, with normalized headers and `origin_file` lineage as the
    * file's full URI, each header group through `conform`. Glob
    * characters in a name are escaped: a path here names one file, never
    * a pattern. */
  def readFiles(spark: SparkSession, files: Seq[Path],
                conform: DataFrame => DataFrame = identity): DataFrame =
    union(scans(spark, files, conform), files.mkString("[", ", ", "]"))

  /** S4: inject (ticker, asset_type, as_of_date) identity parsed from the
    * file path — the reference's filename-stem / path-segment conventions. */
  def withPathIdentity(df: DataFrame): DataFrame =
    df.withColumn("ticker", CleanFns.tickerFromPath(col("origin_file")))
      .withColumn("asset_type", CleanFns.assetTypeFromPath(col("origin_file")))
      .withColumn("as_of_date", CleanFns.dateFromPath(col("origin_file")))
}
