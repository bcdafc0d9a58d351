package graft.stages

import graft.functions.CleanFns
import graft.operators.Conform
import graft.schema.Schemas
import graft.sources.CsvLake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Holdings + allocations sync stage (SURVEY.md §2 rows S5/F7/F9/P3/U3;
  * reference: 04_holdings_sync/00_holdings_data_cleaner.py's nine
  * near-identical process_* functions collapsed into SourceSpec-driven
  * conform + one union).
  *
  * Two warehouse targets:
  *  - stg_fund_holdings: per-holding rows (top-10 etc.);
  *  - stg_allocations: the EAV long table — asset_class / sector / region
  *    breakdowns melted to (allocation_type, item_name, value_*) tuples
  *    via the built-in stack()/unpivot (db_connector.py:175-200).
  */
object HoldingsSync {

  val HoldingsRename: Map[String, String] = Map(
    "symbol" -> "holding_ticker", "name" -> "holding_name",
    "weight" -> "holding_percentage", "value" -> "holding_percentage",
    "shares" -> "shares_held")

  /** Clean one header group of a source's holdings files: identity from
    * the path when the header has no `ticker`, percent strings parsed, FT
    * footer rows dropped (F7), over-long holding tickers nullified (F9). */
  def cleanHoldings(rawWithLineage: DataFrame, source: String): DataFrame = {
    val normed = Conform.normHeaders(rawWithLineage)
    val withId =
      (if (normed.columns.contains("ticker")) normed
       else CsvLake.withPathIdentity(normed))
        .withColumn("source", lit(source))
    val spec = Conform.SourceSpec(HoldingsRename, Seq(
      "ticker" -> StringType, "asset_type" -> StringType, "source" -> StringType,
      "holding_name" -> StringType, "as_of_date" -> DateType,
      "holding_ticker" -> StringType, "holding_percentage" -> StringType,
      "shares_held" -> StringType, "market_value" -> StringType,
      "sector" -> StringType, "country" -> StringType))
    spec(withId)
      .withColumn("ticker", CleanFns.normKey(col("ticker")))
      .withColumn("asset_type", CleanFns.normKey(col("asset_type")))
      .withColumn("holding_percentage",
        CleanFns.parsePercent(col("holding_percentage")).cast(Schemas.alloc))
      .withColumn("shares_held",
        CleanFns.parseNumber(col("shares_held")).cast(Schemas.bigAmt))
      .withColumn("market_value",
        CleanFns.parseMagnitude(col("market_value")).cast(Schemas.bigAmt))
      .withColumn("holding_ticker",
        when(length(col("holding_ticker")) > 20, lit(null))
          .otherwise(CleanFns.nullifyMarkers(col("holding_ticker"))))
      .filter(!lower(coalesce(col("holding_name"), lit("")))
        .contains("per cent of portfolio"))
      .na.drop(Seq("ticker", "asset_type", "source", "holding_name"))
      .dropDuplicates(Schemas.naturalKeys("stg_fund_holdings"))
  }

  /** Melt a wide per-fund breakdown (one column per category value) into
    * EAV allocation rows using the built-in unpivot — the reference's
    * stg_allocations shape. `valueCols` are the category columns. */
  def meltAllocations(wide: DataFrame, allocationType: String,
                      valueCols: Seq[String]): DataFrame = {
    val keys = Seq("ticker", "asset_type", "source", "as_of_date")
    wide.unpivot(
        keys.map(col).toArray,
        valueCols.map(col).toArray,
        "item_name", "value_net")
      .withColumn("allocation_type", lit(allocationType))
      .withColumn("value_net", col("value_net").cast(Schemas.alloc))
  }

  /** Conform already-long allocation rows (FT/SA shape: item_name + value
    * columns), one header group at a time, to the stg_allocations schema:
    * identity from the path when the header has no `ticker`, and
    * `allocationType` where it has no `allocation_type`. */
  def cleanAllocations(rawWithLineage: DataFrame, source: String,
                       allocationType: String): DataFrame = {
    val normed = Conform.normHeaders(rawWithLineage)
    val withId =
      (if (normed.columns.contains("ticker")) normed else CsvLake.withPathIdentity(normed))
        .withColumn("source", lit(source))
        .withColumn("allocation_type",
          if (normed.columns.contains("allocation_type"))
            coalesce(col("allocation_type"), lit(allocationType))
          else lit(allocationType))
    val spec = Conform.SourceSpec(
      Map("sector" -> "item_name", "category" -> "item_name",
        "percentage" -> "value_net"),
      Seq("ticker" -> StringType, "asset_type" -> StringType,
        "source" -> StringType, "allocation_type" -> StringType,
        "item_name" -> StringType, "as_of_date" -> DateType,
        "value_net" -> StringType, "value_category_avg" -> StringType,
        "value_long" -> StringType, "value_short" -> StringType))
    val typed = Seq("value_net", "value_category_avg", "value_long", "value_short")
      .foldLeft(spec(withId))((d, c) =>
        d.withColumn(c, CleanFns.parsePercent(col(c)).cast(Schemas.alloc)))
    typed
      .withColumn("ticker", CleanFns.normKey(col("ticker")))
      .withColumn("asset_type", CleanFns.normKey(col("asset_type")))
      .na.drop(Seq("ticker", "item_name"))
      .dropDuplicates(Schemas.naturalKeys("stg_allocations"))
  }

  /** The holdings stage: each source's changed `*holdings*` files
    * ([[Sync.changedOnly]]), merged once for all sources into
    * stg_fund_holdings. */
  def syncHoldings(spark: SparkSession, sources: Seq[(String, String)],
                   warehouseRoot: String, asOf: Column): Seq[String] = {
    val table = "stg_fund_holdings"
    Sync.changedOnly(spark, "holdings_sync", sources, warehouseRoot, Seq(table),
      CsvLake.listRecursive(spark, _, nameMustContain = "holdings")) { parts =>
      Sync.upsertHashed(spark, warehouseRoot, table, asOf, Sync.union(parts) {
        (source, files) => CsvLake.readFiles(spark, files, cleanHoldings(_, source))
      })
    }
  }

  /** The allocations stage: each source's changed `*allocations*` files
    * (long sector rows; [[Sync.changedOnly]]), merged once for all
    * sources into stg_allocations. */
  def syncAllocations(spark: SparkSession, sources: Seq[(String, String)],
                      warehouseRoot: String, asOf: Column): Seq[String] = {
    val table = "stg_allocations"
    Sync.changedOnly(spark, "allocations_sync", sources, warehouseRoot, Seq(table),
      CsvLake.listRecursive(spark, _, nameMustContain = "allocations")) { parts =>
      Sync.upsertHashed(spark, warehouseRoot, table, asOf, Sync.union(parts) {
        (source, files) => CsvLake.readFiles(spark, files, cleanAllocations(_, source, "sector"))
      })
    }
  }

  /** Top-10 holdings concentration metric (O5): per-fund top-k by weight +
    * the top_10_hold_pct fee metric (02_ft_fees_scraper.py:143-170). */
  def top10Concentration(holdings: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker"), col("asset_type"), col("source"))
      .orderBy(col("holding_percentage").desc_nulls_last,
        col("holding_name").asc)
    holdings
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .groupBy(col("ticker"), col("asset_type"), col("source"))
      .agg(sum(col("holding_percentage")).as("top_10_hold_pct"),
        count(lit(1)).as("top_n"))
  }
}
