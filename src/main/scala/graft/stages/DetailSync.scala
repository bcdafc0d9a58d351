package graft.stages

import graft.functions.CleanFns
import graft.operators.Conform
import graft.schema.Schemas
import graft.sources.CsvLake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Static-detail sync stage (SURVEY.md §2.3 P6, §2.9 C4-C8): per-source
  * wide screener frames split into the four detail tables (info / fees /
  * risk / policy), display strings parsed into typed metrics, C13-style
  * hash, hash-guarded merge per table.
  *
  * Reference chain: 00_static_data_cleaner.py (percent/magnitude/rescale
  * coercions, expected-column lists :138-276) -> 01_detail_validator.py
  * (F1 null-key drop) -> 02_static_hasher.py (md5 all-cols) ->
  * 03_detail_loader upserts; the SA wide split is
  * 01_sa_detail_scraper.py:241-287.
  */
object DetailSync {

  /** Display-string coercions for fee-like metrics: '0.45%' -> 0.45,
    * '842.33m USD' -> 8.4233e8, '1,234' -> 1234 (C4/C5/C6). */
  def parseDisplay(df: DataFrame, percentCols: Seq[String],
                   magnitudeCols: Seq[String], numberCols: Seq[String]): DataFrame = {
    val p = percentCols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c))
        d.withColumn(c, CleanFns.parsePercent(col(c))) else d)
    val m = magnitudeCols.foldLeft(p)((d, c) =>
      if (d.columns.contains(c))
        d.withColumn(c, CleanFns.parseMagnitude(col(c))) else d)
    numberCols.foldLeft(m)((d, c) =>
      if (d.columns.contains(c))
        d.withColumn(c, CleanFns.parseNumber(col(c))) else d)
  }

  /** Normalize a raw static-detail frame: headers, key normalize, null
    * markers, renames (div_yield -> dividend_yield etc). */
  def normalize(raw: DataFrame, source: String): DataFrame = {
    val base = Conform.rename(Conform.normHeaders(raw), Map(
      "div_yield" -> "dividend_yield", "symbol" -> "ticker",
      "expense" -> "expense_ratio", "aum" -> "assets_aum"))
    val withKeys = base
      .withColumn("ticker", CleanFns.normKey(col("ticker")))
      .withColumn("source", if (base.columns.contains("source"))
        coalesce(col("source"), lit(source)) else lit(source))
    val at = if (withKeys.columns.contains("asset_type"))
      CleanFns.normKey(col("asset_type")) else lit("FUND")
    val df = withKeys.withColumn("asset_type", at)
    df.columns.filter(c => df.schema(c).dataType == StringType &&
        !Seq("ticker", "asset_type", "source").contains(c))
      .foldLeft(df)((d, c) => d.withColumn(c, CleanFns.nullifyMarkers(col(c))))
  }

  /** P6 vertical split: project the wide frame onto one target schema,
    * conforming missing columns to typed nulls. */
  def slice(wide: DataFrame, target: StructType): DataFrame =
    Conform.conform(wide, target.fields.toSeq
      .filterNot(f => Seq("row_hash", "updated_at").contains(f.name))
      .map(f => f.name -> f.dataType))

  /** C7/C8 metric hygiene for risk/policy slices: overflow rescale then
    * range-bound nullify (F10) for DECIMAL(5,2) targets. */
  def metricHygiene(df: DataFrame, metricCols: Seq[String]): DataFrame =
    metricCols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, CleanFns.nullifyOutOfRange(
        CleanFns.rescaleOverflow(col(c).cast("double"))).cast(Schemas.metric)))

  /** Normalize + display-parse one header group of a source's screener
    * files into the shared wide shape: the per-group half of [[sync]]. */
  def prepareWide(raw: DataFrame, source: String): DataFrame =
    parseDisplay(normalize(raw, source),
      percentCols = Seq("expense_ratio", "initial_charge", "exit_charge",
        "top_10_hold_pct", "dividend_yield", "total_return_ytd",
        "total_return_1y", "payout_ratio"),
      magnitudeCols = Seq("assets_aum", "shares_out"),
      numberCols = Seq("holdings_count", "pe_ratio"))
      .filter(length(trim(coalesce(col("ticker"), lit("")))) > 0)

  private val Tables = Seq("stg_fund_info", "stg_fund_fees", "stg_fund_risk",
    "stg_fund_policy")

  /** The detail stage: every source dir's changed screener CSVs
    * ([[Sync.changedOnly]]; the files directly in the dir) prepared, the
    * union of those sources split into the four `stg_fund_*` slices, and
    * each table merged exactly once. Per-source merging (N sources x 4
    * tables = 4N read-merge-rewrite cycles per day) is what the batching
    * avoids. */
  def sync(spark: SparkSession, sources: Seq[(String, String)],
           warehouseRoot: String, asOf: Column): Seq[String] =
    Sync.changedOnly(spark, "detail_sync", sources, warehouseRoot, Tables,
      CsvLake.listFlat(spark, _)) { parts =>
      val wide = Sync.union(parts) { (source, files) =>
        CsvLake.readFiles(spark, files, prepareWide(_, source))
      }
      Tables.zip(Seq(
        slice(wide, Schemas.fundInfo),
        slice(wide, Schemas.fundFees),
        metricHygiene(slice(wide, Schemas.fundRisk),
          Schemas.fundRisk.fieldNames.toSeq.filter(c =>
            c.contains("sharpe") || c.contains("beta") || c.contains("alpha") ||
              c.contains("stddev") || c.contains("r_squared"))),
        metricHygiene(slice(wide, Schemas.fundPolicy),
          Seq("dividend_yield", "payout_ratio", "total_return_ytd", "total_return_1y"))
      )).foreach { case (table, df) => Sync.upsertHashed(spark, warehouseRoot, table, asOf, df) }
    }
}
