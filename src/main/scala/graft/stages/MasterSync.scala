package graft.stages

import graft.functions.{BoundValue, CleanFns, HashFns}
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
  def load(spark: SparkSession, path: String, batch: DataFrame, asOf: Column,
           inactiveDays: Int = 7): Unit = {
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
    val aged = MergeSink.applyStatusLifecycle(merged, asOf.cast("date"), inactiveDays)
    MergeSink.replaceParquet(spark, path,
      aged.withColumn("row_hash", HashFns.rowHash(Content, keys)))
  }

  /** Remediation hop (03_master_list_remediator.py:26-37): promote the
    * validated batch into the ready-to-load generation. The reference stage
    * is a copy guarded by file-existence memoization (T7: "file already
    * exists in 04_ready_to_load -> skip"): here a complete generation dir
    * (one whose write committed its `_SUCCESS` marker) is REUSED as-is,
    * so a crashed/replayed run resumes from the materialized batch instead
    * of recomputing upstream stages. A dir with no marker is a write that
    * failed or was cancelled (a failing sibling stage cancels this one):
    * the job's setup created the dir and its abort removed only
    * `_temporary`. It is overwritten, so a retry of the day never reads
    * a generation that was not written whole. */
  def remediate(spark: SparkSession, valid: DataFrame, readyDir: String): DataFrame = {
    val done = new org.apache.hadoop.fs.Path(readyDir, "_SUCCESS")
    if (!done.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(done))
      valid.write.mode("overwrite").parquet(readyDir)
    MergeSink.readTable(spark, readyDir)
  }

  /** The chain over raw per-source frames, reading back the warehouse
    * state it wrote. Chain parity with the reference: cleaner ->
    * consolidator -> validator -> remediator -> loader -> status
    * lifecycle. `readyDir` (when set) materializes the remediated
    * ready-to-load generation. */
  def run(spark: SparkSession, rawBySource: Seq[DataFrame], warehousePath: String,
          asOf: Column, rejectSink: Option[String] = None,
          readyDir: Option[String] = None): DataFrame = {
    ingest(spark, rawBySource.map(clean), warehousePath, asOf, rejectSink, readyDir)
    MergeSink.readTable(spark, warehousePath)
  }

  private def ingest(spark: SparkSession, cleaned: Seq[DataFrame],
                     warehousePath: String, asOf: Column, rejectSink: Option[String],
                     readyDir: Option[String]): Unit = {
    val (valid, rejects) = validate(consolidate(cleaned))
    rejectSink.foreach(Sync.writeRejects(rejects, _))
    val batch = toWarehouse(valid, asOf)
    load(spark, warehousePath, readyDir.map(remediate(spark, batch, _)).getOrElse(batch), asOf)
  }

  /** The `dt=<asOf>` name of a day's ready-to-load generation, from the
    * bound day's value ([[BoundValue.text]]): no Spark job, and for the
    * day `DailyPipeline.run` binds, no query either. */
  private[graft] def generation(spark: SparkSession, asOf: Column): String =
    "dt=" + BoundValue.text(spark, asOf)

  /** The master stage: each source dir's master list (each header group
    * cleaned on its own), rejects to `rejects/master`, into
    * stg_security_master. It reads its whole lake every day (no
    * manifest, see [[Sync]]): `last_seen` and the status lifecycle follow
    * `asOf`. The ready-to-load generation is run-scoped,
    * `staging/master_ready/dt=<asOf>`: a retry of the same day resumes
    * from it, and a later day never reads an earlier day's batch. Once
    * the load succeeded, earlier days' generations have served their
    * resume purpose and are deleted, or the staging area would hold one
    * master batch per day forever. */
  def sync(spark: SparkSession, sources: Seq[(String, String)],
           warehouseRoot: String, asOf: Column): Seq[String] = {
    val readyRoot = new org.apache.hadoop.fs.Path(s"$warehouseRoot/staging/master_ready")
    val generation = this.generation(spark, asOf)
    ingest(spark, sources.map { case (_, dir) => CsvLake.readCsv(spark, dir, clean) },
      s"$warehouseRoot/$Table", asOf,
      rejectSink = Some(s"$warehouseRoot/rejects/master"),
      readyDir = Some(s"$readyRoot/$generation"))
    val fs = readyRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(readyRoot)
      .filter(s => s.isDirectory && s.getPath.getName != generation)
      .foreach(s => fs.delete(s.getPath, true))
    Seq(Table)
  }
}
