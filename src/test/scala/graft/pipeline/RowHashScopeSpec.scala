package graft.pipeline

import graft.SparkSpec
import graft.operators.MergeSink
import graft.schema.Schemas
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Pins which columns each warehouse table's `row_hash` covers: its
  * natural key, then every other column it stores, in table order. */
class RowHashScopeSpec extends SparkSpec {

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  /** A lake with every stage's input. Two master rows arrive `active`, a
    * status the lifecycle leaves as delivered, and one arrives `new`,
    * which the lifecycle promotes to `active`: `row_hash` covers the row
    * as stored, after the promotion. */
  private def lake(root: Path): String = {
    write(root.resolve("lake/master/Financial Times"), "ft_master.csv",
      "ticker,asset_type,name,status,source,date_added\n" +
        "VUSA,ETF,Vanguard SP500,active,Financial Times,2024-05-01\n" +
        "ABC,FUND,,active,Financial Times,2024-05-01\n" +
        "XYZ,ETF,Xylem Tracker,new,Financial Times,2024-05-01\n")
    write(root.resolve("lake/nav/Financial Times"), "nav.csv",
      "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
        "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    write(root.resolve("lake/history/Financial Times/etf/2024-05-01"),
      "VUSA_history.csv",
      "Date,Open,High,Low,Close,Adj Close,Volume\n" +
        "2024-04-29,98,99,97,98.5,98.4,900\n2024-04-30,99,100,98,99.5,,1000\n")
    write(root.resolve("lake/dividends/Yahoo Finance/fund/2024-05-01"),
      "ABC_dividend.csv", "Date,Dividend,Payment Date\n2024-03-01,0.52,2024-03-08\n")
    write(root.resolve("lake/details/Stock Analysis"), "screener.csv",
      "ticker,asset_type,name,expense_ratio,assets_aum,beta_3y,dividend_yield\n" +
        "VUSA,ETF,Vanguard SP500,0.07%,842.33m USD,1.02,1.3%\n")
    write(root.resolve("lake/holdings/Financial Times/etf/2024-05-01"),
      "VUSA_etf_holdings.csv",
      "ticker,asset_type,name,symbol,weight,shares\n" +
        "VUSA,ETF,Apple,AAPL,5.9%,\"1,000\"\nVUSA,ETF,Microsoft,MSFT,5.1%,\n")
    write(root.resolve("lake/allocations/Stock Analysis/2024-05-01"),
      "VUSA_allocations.csv",
      "ticker,sector,percentage,scrape_date\nVUSA,Technology,28.4%,2024-05-01\n")
    s"$root/lake"
  }

  /** Written by the stage, not part of the row's content. */
  private val stamps = Seq("row_hash", Schemas.updatedAt, "first_seen", "last_seen")

  test("every row_hash is sha2 over the natural key, then every other stored column") {
    val root = Files.createTempDirectory("hashscope")
    val wh = s"$root/warehouse"
    val results = DailyPipeline.run(spark, lake(root), wh, lit("2024-05-01"))
    assert(results.forall(_.ok), results.mkString("; "))

    val tables = Seq("stg_security_master", "stg_price_history",
      "stg_dividend_history", "stg_fund_info", "stg_fund_fees", "stg_fund_risk",
      "stg_fund_policy", "stg_fund_holdings", "stg_allocations")
    tables.foreach { t =>
      val df = MergeSink.readTable(spark, s"$wh/$t")
      val keys = Schemas.naturalKeys(t)
      val scope = keys ++ df.columns.filterNot(c => keys.contains(c) || stamps.contains(c))
      val expected = sha2(concat_ws("|",
        scope.map(c => coalesce(col(c).cast("string"), lit(""))): _*), 256)
      assert(df.count() > 0, t)
      val off = df.filter(col("row_hash") =!= expected).count()
      assert(off == 0, s"$t: $off rows hash another scope than ${scope.mkString(",")}")
    }
  }
}
