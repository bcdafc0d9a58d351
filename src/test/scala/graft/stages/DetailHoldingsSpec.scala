package graft.stages

import graft.SparkSpec
import graft.operators.MergeSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DetailHoldingsSpec extends SparkSpec {
  import spark.implicits._

  test("DetailSync: wide screener splits into 4 typed tables with parsed display strings") {
    val root = Files.createTempDirectory("details")
    Files.createDirectories(root.resolve("lake"))
    Files.writeString(root.resolve("lake/screener.csv"),
      "Ticker,Asset Type,Name,Expense_Ratio,Assets_AUM,Holdings_Count,Dividend Yield,PE Ratio\n" +
        "vusa,ETF,Vanguard,0.07%,842.33m USD,\"1,234\",--,12.5\n" +
        "abc,FUND,Alpha,1.20%,515k,87,3.2,9.9\n")
    def sync(asOf: String): Map[String, DataFrame] = {
      val tables = DetailSync.sync(spark, Seq("Stock Analysis" -> s"$root/lake"),
        root.toString, lit(asOf))
      tables.map(t => t -> MergeSink.readTable(spark, s"$root/$t")).toMap
    }
    val tables = sync("2024-05-02")
    assert(tables.keySet == Set("stg_fund_info", "stg_fund_fees",
      "stg_fund_risk", "stg_fund_policy"))

    val fees = tables("stg_fund_fees").orderBy("ticker")
    assert(fees.count() == 2)
    val vusa = fees.filter(col("ticker") === "VUSA")
      .select(col("expense_ratio").cast("string"),
        col("assets_aum").cast("string"), col("holdings_count"))
      .as[(String, String, Int)].head()
    assert(vusa == ("0.0700", "842330000.00", 1234))

    // '--' nullified; policy slice carries dividend_yield
    val abcPolicy = tables("stg_fund_policy").filter(col("ticker") === "ABC")
      .select(col("dividend_yield").cast("string")).as[String].head()
    assert(abcPolicy == "3.20")
    assert(tables("stg_fund_policy").filter(col("ticker") === "VUSA")
      .select("dividend_yield").head().isNullAt(0))

    // replay is a hash-guarded no-op
    val again = sync("2024-06-01")
    assert(again("stg_fund_fees").select(max(col("updated_at")).cast("date").cast("string"))
      .as[String].head() == "2024-05-02")
  }

  test("DetailSync metric hygiene: overflow rescale + out-of-range nullify") {
    val df = Seq(("T", 1500.0, 150000.0)).toDF("ticker", "stddev_3y", "beta_1y")
    val out = DetailSync.metricHygiene(df, Seq("stddev_3y", "beta_1y"))
    val r = out.select(col("stddev_3y").cast("string"), col("beta_1y")).head()
    assert(r.getString(0) == "15.00") // 1500 -> /100
    assert(r.isNullAt(1))             // 150000/100 = 1500 still >= 1000 -> null
  }

  test("HoldingsSync: footer filter, long-ticker nullify, percent parse, top-10 metric") {
    val raw = Seq(
      ("VUSA", "ETF", "Apple Inc", "AAPL", "5.9%"),
      ("VUSA", "ETF", "Microsoft", "MSFT", "5.2%"),
      ("VUSA", "ETF", "Total of top 10 per cent of portfolio", "", "45.0%"),
      ("VUSA", "ETF", "Weird Corp", "THIS_TICKER_IS_FAR_TOO_LONG_TO_KEEP", "1.0%"))
      .toDF("ticker", "asset_type", "name", "symbol", "weight")
    val cleaned = HoldingsSync.cleanHoldings(raw, "Financial Times")
    assert(cleaned.count() == 3) // footer dropped
    val weird = cleaned.filter(col("holding_name") === "Weird Corp")
      .select("holding_ticker").head()
    assert(weird.isNullAt(0))
    val top = HoldingsSync.top10Concentration(cleaned)
      .select(col("top_10_hold_pct").cast("string"), col("top_n"))
      .as[(String, Long)].head()
    assert(top == ("12.1000", 3))
  }

  test("HoldingsSync: a file with `ticker` and one without each bind their own rows") {
    val root = Files.createTempDirectory("holdings_mixed")
    val day = root.resolve("lake/etf/2024-05-02")
    Files.createDirectories(day)
    // sorted first: carries its ticker in a column
    Files.writeString(day.resolve("AAA_etf_holdings.csv"),
      "ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,5.9%\n")
    // no ticker column: identity from the file name
    Files.writeString(day.resolve("BBB_etf_holdings.csv"),
      "name,symbol,weight\nMicrosoft,MSFT,5.1%\n")
    assert(HoldingsSync.syncHoldings(spark, Seq("Financial Times" -> s"$root/lake"),
      root.toString, lit("2024-05-02")) == Seq("stg_fund_holdings"))
    val rows = MergeSink.readTable(spark, s"$root/stg_fund_holdings")
      .select("ticker", "holding_name").as[(String, String)].collect().toSet
    assert(rows == Set(("VUSA", "Apple"), ("BBB", "Microsoft")))
  }

  test("HoldingsSync: EAV melt via unpivot matches the stg_allocations shape") {
    val wide = Seq(("VUSA", "ETF", "Financial Times", "2024-05-02", 62.1, 25.3, 12.6))
      .toDF("ticker", "asset_type", "source", "as_of_date",
        "equity", "bond", "cash")
      .withColumn("as_of_date", col("as_of_date").cast("date"))
    val long = HoldingsSync.meltAllocations(wide, "asset_class",
      Seq("equity", "bond", "cash"))
    assert(long.count() == 3)
    val eq = long.filter(col("item_name") === "equity")
      .select(col("allocation_type"), col("value_net").cast("string"))
      .as[(String, String)].head()
    assert(eq == ("asset_class", "62.1000"))
  }

  test("HoldingsSync: long-format allocations conform (SA sector shape)") {
    val raw = Seq(("VUSA", "Technology", "28.4%", "2024-05-02"))
      .toDF("Ticker", "Sector", "Percentage", "Scrape_Date")
    val out = HoldingsSync.cleanAllocations(raw, "Stock Analysis", "sector")
    val r = out.select("ticker", "allocation_type", "item_name")
      .as[(String, String, String)].head()
    assert(r == ("VUSA", "sector", "Technology"))
    assert(out.select(col("value_net").cast("string")).as[String].head() == "28.4000")
  }
}
