package graft.stages

import graft.SparkSpec
import graft.operators.MergeSink
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The SURVEY.md §7.2 slice test: "load two days of NAV files, re-run day 2,
  * assert idempotence and one row per natural key" — plus the price-history
  * hash-guard path. */
class PerformanceSyncSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  test("cleanNav: conform + keep-last dedup + typed dates/prices") {
    val raw = Seq(
      ("VUSA", "ETF", "FT", "101.5", "USD", "2024-05-02", "2024-05-02", "a.csv"),
      ("VUSA", "ETF", "FT", "102.0", "USD", "2024-05-02", "2024-05-02", "b.csv"),
      ("ABC", "FUND", "FT", "garbage", "USD", "2024-05-02", "2024-05-02", "a.csv"))
      .toDF("ticker", "asset_type", "source", "nav_price", "currency",
        "as_of_date", "scrape_date", "origin_file")
    val out = PerformanceSync.latestNav(PerformanceSync.conformNav(raw)).orderBy("ticker")
    assert(out.count() == 2) // keep-last wins on the duplicate key
    val vusa = out.filter(col("ticker") === "VUSA")
      .select(col("nav_price").cast("string")).as[String].head()
    assert(vusa == "102.0000") // b.csv (desc order) survived
    // coerce-to-null on garbage keeps the row; the validator rejects it
    assert(out.filter(col("ticker") === "ABC").select("nav_price").head().isNullAt(0))
  }

  test("validateNav: missing/non-positive/future split with reasons") {
    val today = lit("2024-05-02").cast("date")
    val df = Seq(
      ("VUSA", "ETF", "FT", Some(101.5), "2024-05-02"),
      ("BAD1", "ETF", "FT", None, "2024-05-02"),
      ("BAD2", "ETF", "FT", Some(-5.0), "2024-05-02"),
      ("BAD3", "ETF", "FT", Some(3.0), "2024-06-09"))
      .toDF("ticker", "asset_type", "source", "nav_price", "as_of_date")
      .withColumn("as_of_date", col("as_of_date").cast("date"))
    val (valid, rejects) = PerformanceSync.validateNav(df, today)
    assert(valid.count() == 1)
    val reasons = rejects.orderBy("ticker")
      .select("validation_issues").as[String].collect().toSeq
    assert(reasons == Seq("missing_key", "non_positive_nav", "future_date"))
  }

  private val navHeader =
    "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"

  /** One Financial Times NAV source dir under `root`, synced into `root`. */
  private def syncNav(root: Path, asOf: String) = {
    assert(PerformanceSync.syncNav(spark, Seq("Financial Times" -> s"$root/ft"),
      root.toString, lit(asOf).cast("date")) == Seq("stg_daily_nav"))
    MergeSink.readTable(spark, s"$root/stg_daily_nav")
  }

  test("end-to-end NAV: two days, replay day 2, one row per key (SURVEY §7.2)") {
    val root = Files.createTempDirectory("nav_sync")
    write(root.resolve("ft"), "day1.csv", navHeader +
      "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n" +
      "ABC,FUND,Financial Times,50.0,USD,2024-05-01,2024-05-01\n")
    assert(syncNav(root, "2024-05-01").count() == 2)

    write(root.resolve("ft"), "day2.csv", navHeader +
      "VUSA,ETF,Financial Times,103.0,USD,2024-05-02,2024-05-02\n" +
      "ABC,FUND,Financial Times,50.5,USD,2024-05-02,2024-05-02\n")
    // one row per (ticker, asset_type, source, as_of_date)
    assert(syncNav(root, "2024-05-02").count() == 4)

    // replay the whole landing dir -> no growth, same content
    val replay = syncNav(root, "2024-05-02")
    assert(replay.count() == 4)
    val keys = replay.groupBy("ticker", "asset_type", "source", "as_of_date")
      .count().filter(col("count") > 1).count()
    assert(keys == 0)
  }

  /** History files of one Financial Times source under `lake`, synced
    * into `wh`. */
  private def syncHistory(lake: Path, wh: Path, asOf: String) = {
    assert(PerformanceSync.syncHistory(spark, Seq("Financial Times" -> lake.toString),
      wh.toString, lit(asOf)) == Seq("stg_price_history"))
    MergeSink.readTable(spark, s"$wh/stg_price_history")
  }

  private val historyCsv = "Date,Open,High,Low,Close,Volume\n" +
    "2024-05-01,100.0,102.5,99.0,101.5,\"1,234,567\"\n" +
    "2024-04-30,99.0,100.5,98.0,100.0,987654\n"

  test("history: identity-from-path, hash-guard means replay is value-stable") {
    val root = Files.createTempDirectory("hist_sync")
    write(root.resolve("lake").resolve("etf").resolve("2024-05-02"),
      "VUSA_history.csv", historyCsv)
    val h1 = syncHistory(root.resolve("lake"), root, "2024-05-02")
    assert(h1.count() == 2)
    val r = h1.filter(col("date") === "2024-05-01")
      .select(col("ticker"), col("asset_type"),
        col("close").cast("string"), col("volume"))
      .as[(String, String, String, Long)].head()
    assert(r == ("VUSA", "ETF", "101.5000", 1234567L))

    // replay with a later asOf: hash-guard keeps original updated_at rows
    val h2 = syncHistory(root.resolve("lake"), root, "2024-06-01")
    assert(h2.count() == 2)
    assert(h2.select(max(col("updated_at")).cast("date").cast("string"))
      .as[String].head() == "2024-05-02") // no-op: nothing re-stamped
  }

  test("origin_file lineage survives clean + merge into stg_daily_nav") {
    val root = Files.createTempDirectory("nav_lineage")
    write(root.resolve("ft"), "nav_a.csv", navHeader +
      "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    val out = syncNav(root, "2024-05-01")
    assert(out.columns.contains("origin_file"))
    // the file name: the source dir is already the `source` column
    assert(out.select("origin_file").as[String].head() == "nav_a.csv")
  }

  test("a NAV source under a directory whose name contains 'log' keeps its rows") {
    val root = Files.createTempDirectory("catalog")
    write(root.resolve("ft"), "nav.csv", navHeader +
      "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    // an error/log FILE is still skipped
    write(root.resolve("ft"), "scrape_log.csv", navHeader +
      "ZZZ,ETF,Financial Times,1.0,USD,2024-05-01,2024-05-01\n")
    assert(syncNav(root, "2024-05-01").select("ticker").as[String].collect().toSeq ==
      Seq("VUSA"))
  }

  test("a NAV dir with a `price` file and a `nav_price` file loads both") {
    val root = Files.createTempDirectory("nav_drift")
    write(root.resolve("ft"), "a.csv", navHeader +
      "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    // its own column order too: bound by name, not by a.csv's positions
    write(root.resolve("ft"), "b.csv",
      "price,ticker,asset_type,source,currency,as_of_date,scrape_date\n" +
        "50.25,ABC,FUND,Financial Times,USD,2024-05-01,2024-05-01\n")
    val rows = syncNav(root, "2024-05-01")
      .select(col("ticker"), col("asset_type"), col("nav_price").cast("string"),
        col("origin_file"))
      .as[(String, String, String, String)].collect().toSet
    assert(rows == Set(("VUSA", "ETF", "101.5000", "a.csv"),
      ("ABC", "FUND", "50.2500", "b.csv")))
  }

  test("a history root under a directory whose name contains 'holdings' keeps its rows") {
    val root = Files.createTempDirectory("holdings_history")
    val lake = root.resolve("lake")
    write(lake.resolve("etf").resolve("2024-05-02"), "VUSA_history.csv", historyCsv)
    // a holdings FILE is still skipped
    write(lake.resolve("etf").resolve("2024-05-02"), "VUSA_etf_holdings.csv",
      "Date,Open,High,Low,Close,Volume\n2024-04-29,1,1,1,1,1\n")
    assert(syncHistory(lake, root, "2024-05-02").count() == 2)
  }

  test("dividends: rename drift, defaults, key dedup") {
    val root = Files.createTempDirectory("div_sync")
    write(root.resolve("lake").resolve("fund").resolve("2024-05-02"),
      "ABC_dividend.csv",
      "Date,Dividend\n2024-03-01,0.52\n2024-03-01,0.52\n2023-12-01,0.50\n")
    assert(PerformanceSync.syncDividends(spark,
      Seq("Yahoo Finance" -> s"$root/lake"), root.toString, lit("2024-05-02")) ==
      Seq("stg_dividend_history"))
    val d = MergeSink.readTable(spark, s"$root/stg_dividend_history")
    assert(d.count() == 2) // exact-dup row collapsed
    val row = d.orderBy(desc("ex_date"))
      .select("ticker", "currency", "type").as[(String, String, String)].head()
    assert(row == ("ABC", "USD", "Cash"))
  }
}
