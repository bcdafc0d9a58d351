package graft.stages

import graft.functions.{CleanFns, HashFns}
import graft.operators.{Conform, Dedup, MergeSink, Validate}
import graft.schema.Schemas
import graft.sources.CsvLake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Master-list sync stage (SURVEY.md §3.1): clean -> consolidate -> validate
  * -> load -> status lifecycle, re-expressing the reference's
  * 01_master_sync stage chain as one Spark lineage.
  *
  * The reference runs 7 processes writing 4 CSV generations
  * (00_master_list_cleaner.py -> 01_source_consolidator.py ->
  * 02_master_list_validator.py -> 04_master_list_loader.py ->
  * 05_status_manager.py); here each stage is a DataFrame -> DataFrame
  * function and the only materialization is the final warehouse merge.
  * The reference's 03_master_list_remediator.py copies the validated list
  * into 04_ready_to_load and skips the copy when the file exists; in one
  * lineage that hop is the identity, so it has no counterpart here, and
  * a same-day rerun after the list was fixed loads the fixed list.
  *
  * Scale: the master list is small (thousands of rows) — every join against
  * it elsewhere in the engine broadcasts. The consolidate dedup is the one
  * shuffle, keyed by the natural key.
  */
object MasterSync {

  private val Table = "stg_security_master"

  val ExpectedColumns: Seq[(String, DataType)] = Seq(
    "ticker" -> StringType, "asset_type" -> StringType, "name" -> StringType,
    "status" -> StringType, "source" -> StringType, "date_added" -> StringType)

  /** Per-source rename maps (00_master_list_cleaner.py:39-45): absorbs the
    * FT ETF `full_ticker` drift and friends. */
  val RenameMap: Map[String, String] = Map(
    "full_ticker" -> "ticker", "symbol" -> "ticker", "fund_name" -> "name",
    "fund" -> "name", "type" -> "asset_type")

  /** Clean one source file, or one header group of a source dir's files
    * (00_master_list_cleaner.py:22-77): header normalize, rename, conform,
    * key normalize, enum fixes, dedup keep-first. [[consolidate]] dedups
    * the groups of one source on the same key and order. A list with no
    * ticker column after the renames fails, naming its columns: its rows
    * could only all be rejected, and the list would silently stop
    * refreshing its source's tickers. */
  def clean(raw: DataFrame): DataFrame = {
    val named = Conform.rename(Conform.normHeaders(raw), RenameMap)
    require(named.columns.contains("ticker"),
      s"master list has no ticker column: ${named.columns.mkString(", ")}")
    val conformed = Conform.conform(named, ExpectedColumns)
      .withColumn("ticker", CleanFns.normKey(col("ticker")))
      .withColumn("asset_type", CleanFns.mapEnum(CleanFns.normKey(col("asset_type")),
        Map("MUTUAL FUND" -> "FUND", "MUTUALFUND" -> "FUND")))
      .withColumn("status", CleanFns.normStatus(col("status")))
      .withColumn("source", CleanFns.mapEnum(col("source"), Map(
        "FinancialTimes" -> "Financial Times", "YahooFinance" -> "Yahoo Finance",
        "StockAnalysis" -> "Stock Analysis")))
    Dedup.keyedKeepFirst(conformed, Seq("ticker", "asset_type", "source"),
      Seq(col("date_added").asc_nulls_last, col("name").asc_nulls_last))
  }

  /** Consolidate cleaned per-source frames (01_source_consolidator.py:67-95):
    * union-by-name, J4 keyed dedup keep-first after multi-key sort, ties
    * broken by name as [[clean]] breaks them. Duplicates ACROSS sources
    * are deliberately kept (same ticker from FT and YF are two rows —
    * source is part of the key). */
  def consolidate(cleaned: Seq[DataFrame]): DataFrame = {
    val all = cleaned.reduce(_.unionByName(_, allowMissingColumns = true))
    Dedup.keyedKeepFirst(all, Seq("ticker", "asset_type", "source"),
      Seq(col("source").asc, col("asset_type").asc, col("ticker").asc,
        col("date_added").asc_nulls_last, col("name").asc_nulls_last))
  }

  /** Validation rules (02_master_list_validator.py:37-62), in the
    * reference's declared priority order. */
  val rules: Seq[Validate.Rule] = Seq(
    Validate.Rule("blank_ticker", length(trim(coalesce(col("ticker"), lit("")))) > 0),
    Validate.Rule("bad_asset_type", col("asset_type").isin("FUND", "ETF")),
    Validate.Rule("blank_source", length(trim(coalesce(col("source"), lit("")))) > 0),
    Validate.Rule("bad_status", col("status").isin("active", "inactive", "new")))

  /** Split into (valid, rejects-with-reasons) — rejects feed the reject sink
    * exactly like invalid_master_list.csv. */
  def validate(consolidated: DataFrame): (DataFrame, DataFrame) =
    Validate.split(consolidated, rules)

  /** The delivered columns a master row's `row_hash` covers, key first. */
  private val Content = Seq("ticker", "asset_type", "source", "name", "status")

  /** Conform a validated batch to the stg_security_master shape with the
    * canonical row hash and lifecycle columns (04_master_list_loader.py).
    * The hash covers the row as delivered; [[load]] re-hashes the row it
    * stores, after the status lifecycle. */
  def toWarehouse(valid: DataFrame, asOf: Column): DataFrame =
    HashFns.withRowHash(valid.select(Content.map(col): _*),
        Schemas.naturalKeys(Table), asOf)
      .withColumn("first_seen", asOf.cast("date"))
      .withColumn("last_seen", asOf.cast("date"))
      .select(Schemas.securityMaster.fieldNames.toSeq.map(col): _*)

  /** MERGE into the master table. Matched rows always refresh `last_seen`
    * (K4 semantics, 04_master_list_loader.py:75-82) but keep their original
    * `first_seen`; then the T5 status lifecycle runs over the merged table,
    * and `row_hash` is taken over the row as stored: a 'new' row promoted
    * to 'active' hashes as 'active'. */
  def load(spark: SparkSession, path: String, batch: DataFrame, asOf: Column): Unit = {
    val keys = Schemas.naturalKeys(Table)
    val hconf = spark.sparkContext.hadoopConfiguration
    val tgt = new org.apache.hadoop.fs.Path(path)
    val fs = tgt.getFileSystem(hconf)
    val merged =
      if (!fs.exists(tgt)) batch.dropDuplicates(keys)
      else {
        val target = MergeSink.readTable(spark, path)
        // preserve first_seen of existing rows through the K4 merge
        val t = target.select(keys.map(col) :+ col("first_seen").as("__first"): _*)
        MergeSink.merge(target, batch, keys, hashCol = None)
          .join(t, keys, "left")
          .withColumn("first_seen", coalesce(col("__first"), col("first_seen")))
          .drop("__first")
      }
    val aged = MergeSink.applyStatusLifecycle(merged, asOf.cast("date"))
    MergeSink.replaceParquet(spark, path,
      aged.withColumn("row_hash", HashFns.rowHash(Content, keys)))
  }

  /** The master stage: each source dir's master list (each header group
    * cleaned on its own), consolidated and validated, rejects to
    * `rejects/master`, the valid rows into stg_security_master. It reads
    * its whole lake every day (no manifest, see [[Sync]]): `last_seen`
    * and the status lifecycle follow `asOf`. */
  def sync(spark: SparkSession, sources: Seq[(String, String)],
           warehouseRoot: String, asOf: Column): Seq[String] = {
    val (valid, rejects) = validate(consolidate(
      sources.map { case (_, dir) => CsvLake.readCsv(spark, dir, clean) }))
    Sync.writeRejects(rejects, s"$warehouseRoot/rejects/master")
    load(spark, s"$warehouseRoot/$Table", toWarehouse(valid, asOf), asOf)
    Seq(Table)
  }
}
