package graft.stages

import graft.functions.CleanFns
import graft.operators.{Conform, Dedup, MergeSink, Validate}
import graft.schema.Schemas
import graft.sources.CsvLake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Performance sync stage (SURVEY.md §3.2 — the canonical data path):
  * daily NAV plus price/dividend history, from raw per-source CSVs to
  * hash-guarded warehouse merges.
  *
  * Reference chain re-expressed:
  *   00_performance_data_cleaner.py  S2 glob-union -> P1/P3 conform ->
  *     C1 normalize -> A3 dedup keep-last -> F3 nav>0 -> C9 dates
  *   01_performance_validator.py     F1/F3/F4 masks -> valid/error split
  *   03_daily_nav_loader.py          K3 upsert (stg_daily_nav has NO
  *     row_hash -> K4 merge guarded on every column but `updated_at`)
  *   00_price_history_cleaner.py     S4 identity-from-path
  *   02_history_hasher.py            C14 sha256 hash
  *   03_price_history_loader.py      K5 temp-table hash-guarded upsert
  */
object PerformanceSync {

  val NavColumns: Seq[(String, DataType)] = Seq(
    "ticker" -> StringType, "asset_type" -> StringType, "source" -> StringType,
    "nav_price" -> StringType, "currency" -> StringType,
    "as_of_date" -> StringType, "scrape_date" -> StringType)

  /** Conform one header group of raw NAV files
    * (00_performance_data_cleaner.py:45-146): rename drift, normalize
    * keys, coerce dates/prices. `origin_file` lineage survives — the
    * reference persists it through the merge
    * (00_performance_data_cleaner.py:79) and it reaches stg_daily_nav. */
  def conformNav(raw: DataFrame): DataFrame =
    Conform.SourceSpec(
        renameMap = Map("price" -> "nav_price", "date" -> "as_of_date"),
        expected = NavColumns ++ Seq("origin_file" -> StringType))(raw)
      .withColumn("ticker", CleanFns.normKey(col("ticker")))
      .withColumn("asset_type", CleanFns.normKey(col("asset_type")))
      .withColumn("nav_price", col("nav_price").cast(Schemas.money))
      .withColumn("as_of_date", CleanFns.parseDate(col("as_of_date")))
      .withColumn("scrape_date", CleanFns.parseDate(col("scrape_date")))

  /** Dedup conformed NAV rows keep-last: the last file read wins, made
    * deterministic by origin_file ordering. Within one file the reference
    * keeps the last row READ; CSV row order isn't an exposed column in a
    * distributed scan, so payload columns pin a deterministic within-file
    * survivor instead. */
  def latestNav(conformed: DataFrame): DataFrame =
    Dedup.keyedKeepFirst(conformed,
      Seq("ticker", "asset_type", "source", "as_of_date"),
      Seq(col("origin_file").desc_nulls_last,
        col("scrape_date").desc_nulls_last,
        col("nav_price").desc_nulls_last,
        col("currency").desc_nulls_last))

  /** Validator rules (01_performance_validator.py:42-78) with explicit
    * reason priority: missing > non-positive > future (SURVEY.md §7.4.4). */
  def navRules(today: Column): Seq[Validate.Rule] = Seq(
    Validate.Rule("missing_key",
      col("ticker").isNotNull && col("as_of_date").isNotNull &&
        col("nav_price").isNotNull),
    Validate.Rule("non_positive_nav", coalesce(col("nav_price"), lit(1)) > 0),
    Validate.Rule("future_date",
      coalesce(col("as_of_date"), today) <= date_add(today, 1)))

  def validateNav(cleaned: DataFrame, today: Column): (DataFrame, DataFrame) =
    Validate.split(cleaned, navRules(today))

  /** The NAV stage: every source dir's NAV files (error/log files
    * skipped), each header group conformed on its own, deduped, validated
    * with rejects to `rejects/nav`, and merged into stg_daily_nav — K4 content-guarded (no row_hash on this table,
    * db_connector.py:126-147): a matched row is taken only when a column
    * other than `updated_at` differs. `updated_at` is not content, as in
    * the reference's SET list, so a NAV re-sent unchanged keeps its
    * stored row and its bucket is not rewritten. */
  def syncNav(spark: SparkSession, sources: Seq[(String, String)],
              warehouseRoot: String, asOf: Column): Seq[String] = {
    val (valid, rejects) =
      validateNav(latestNav(CsvLake.readSourceDirs(spark, sources, conformNav)), asOf)
    Sync.writeRejects(rejects, s"$warehouseRoot/rejects/nav")
    val table = "stg_daily_nav"
    MergeSink.upsertParquet(spark, s"$warehouseRoot/$table",
      valid.withColumn(Schemas.updatedAt, asOf.cast("timestamp")),
      Schemas.naturalKeys(table), hashCol = None)
    Seq(table)
  }

  // ------------------------------------------------------------- history

  val HistoryRename: Map[String, String] = Map(
    "adj._close" -> "adj_close", "adj_close" -> "adj_close",
    "change_%" -> "change_pct")

  val HistoryColumns: Seq[(String, DataType)] = Seq(
    "ticker" -> StringType, "asset_type" -> StringType, "source" -> StringType,
    "date" -> StringType, "open" -> StringType, "high" -> StringType,
    "low" -> StringType, "close" -> StringType, "adj_close" -> StringType,
    "volume" -> StringType)

  /** Clean one header group of per-ticker history files
    * (00_price_history_cleaner.py:36-68): identity from path, header
    * drift absorbed, display-numerics parsed. */
  def cleanHistory(rawWithLineage: DataFrame, source: String): DataFrame = {
    val withId = CsvLake.withPathIdentity(Conform.normHeaders(rawWithLineage))
      .withColumn("source", lit(source))
    val spec = Conform.SourceSpec(HistoryRename,
      HistoryColumns :+ ("origin_file" -> StringType))
    val typed = spec(withId)
      .withColumn("date", CleanFns.parseDate(col("date")))
      .withColumn("volume", CleanFns.parseNumber(col("volume")).cast(LongType))
    Seq("open", "high", "low", "close", "adj_close")
      .foldLeft(typed)((d, c) =>
        d.withColumn(c, CleanFns.parseNumber(col(c)).cast(Schemas.money)))
      .filter(col("date").isNotNull)
      .drop("origin_file")
  }

  /** The price-history stage: each source's changed `*history*` files
    * (never a `*holdings*` one; [[Sync.changedOnly]]), one C14 hash over
    * natural key + OHLCV (fixes the reference's payload-only hash scope,
    * SURVEY.md §2.12) and one K5 hash-guarded merge into
    * stg_price_history for all sources. */
  def syncHistory(spark: SparkSession, sources: Seq[(String, String)],
                  warehouseRoot: String, asOf: Column): Seq[String] = {
    val table = "stg_price_history"
    Sync.changedOnly(spark, "history_sync", sources, warehouseRoot, Seq(table),
      CsvLake.listRecursive(spark, _, nameMustContain = "history",
        nameMustNotContain = "holdings")) { parts =>
      Sync.upsertHashed(spark, warehouseRoot, table, asOf, Sync.union(parts) {
        (source, files) => CsvLake.readFiles(spark, files, cleanHistory(_, source))
      })
    }
  }

  // ------------------------------------------------------------ dividends

  val DividendRename: Map[String, String] = Map(
    "date" -> "ex_date", "ex_dividend_date" -> "ex_date",
    "dividend" -> "amount", "cash_amount" -> "amount")

  /** Clean one header group of per-ticker dividend files
    * (00_dividend_history_cleaner.py:28-44, 03_dividend_loader.py:37-64):
    * rename drift, defaults, F1 key drop, A4 full-natural-key dedup. */
  def cleanDividends(rawWithLineage: DataFrame, source: String): DataFrame = {
    val withId = CsvLake.withPathIdentity(Conform.normHeaders(rawWithLineage))
      .withColumn("source", lit(source))
    val spec = Conform.SourceSpec(DividendRename, Seq(
      "ticker" -> StringType, "asset_type" -> StringType, "source" -> StringType,
      "ex_date" -> StringType, "payment_date" -> StringType,
      "amount" -> StringType, "currency" -> StringType, "type" -> StringType))
    spec(withId)
      .withColumn("ex_date", CleanFns.parseDate(col("ex_date")))
      .withColumn("payment_date", CleanFns.parseDate(col("payment_date")))
      .withColumn("amount", CleanFns.parseNumber(col("amount")).cast(Schemas.money6))
      .withColumn("currency", coalesce(col("currency"), lit("USD")))
      .withColumn("type", coalesce(col("type"), lit("Cash")))
      .na.drop(Seq("ticker", "asset_type", "source", "ex_date", "amount"))
      .dropDuplicates(Schemas.naturalKeys("stg_dividend_history"))
  }

  /** The dividend stage: each source's changed `*dividend*` files
    * ([[Sync.changedOnly]]), hashed on stg_dividend_history's natural key
    * (its payload is `currency`) and merged once for all sources. */
  def syncDividends(spark: SparkSession, sources: Seq[(String, String)],
                    warehouseRoot: String, asOf: Column): Seq[String] = {
    val table = "stg_dividend_history"
    Sync.changedOnly(spark, "dividend_sync", sources, warehouseRoot, Seq(table),
      CsvLake.listRecursive(spark, _, nameMustContain = "dividend")) { parts =>
      Sync.upsertHashed(spark, warehouseRoot, table, asOf, Sync.union(parts) {
        (source, files) => CsvLake.readFiles(spark, files, cleanDividends(_, source))
      })
    }
  }
}
